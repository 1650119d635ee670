package graft.ext

/** Real baseline JPEG (ITU-T T.81 / JFIF) pixel codec, zero-dep.
  *
  * Decoder: general table-driven baseline sequential decode — marker walk
  * (APPn/COM skipped, DQT 8/16-bit, DHT canonical Huffman, SOF0, DRI,
  * SOS), MSB-first entropy reader with 0xFF00 unstuffing and RSTn
  * restart-interval handling, DC prediction + amplitude extend, zigzag
  * run-length AC decode, dequantization, separable double-precision IDCT,
  * integer-replication chroma upsampling for any (h, v) sampling (4:4:4
  * and 4:2:0 included), and a FIXED-POINT YCbCr→RGB conversion
  * (16.16 integer arithmetic, floor rounding) so pixel output is exactly
  * reproducible outside the JVM. Progressive (SOF2) and arithmetic-coded
  * streams are rejected, not mis-decoded. Headers are untrusted: every
  * dimension/length is bounds-checked before allocation (dims ≤ 2^14,
  * pixels ≤ 2^26, blocks ≤ 2^20), and run-length overruns or exhausted
  * bit streams fail to None, never throw.
  *
  * Encoder (test-fixture side, but emits REAL files any baseline decoder
  * reads): JFIF headers, the public Annex K.3 Huffman tables, flat-value
  * 8×8 blocks entropy-coded as DC-category + amplitude bits + EOB.
  * Fixtures quantize DC with step 8, which makes the DCT round trip of a
  * block-flat image EXACT: a flat block's DCT is DC-only (DC = 8·(v−128),
  * AC = 0), quantization divides by 8 losslessly, and the IDCT of a
  * DC-only block is constant to ~1e-13 before rounding — so the oracle
  * can replay decoded pixels from the generative formula alone while the
  * decoder still runs the full Huffman/dequant/IDCT/upsample/color path.
  *
  * Reference scope: vanus-labs/vanus has no media decode at all (events
  * carry opaque `data`); this is part of the training-data-pipeline layer
  * (multimodal columns) the engine adds beyond the reference surface.
  */
object Jpeg {

  // ==== Generative fixture formulas (the oracle replays these) ====

  /** Flat luma value of 8×8 block (bx, by). */
  def genY(bx: Int, by: Int, seed: Long): Int =
    ((bx * 17 + by * 29 + seed) % 256).toInt
  /** Flat chroma values of the 16×16 pixel region (rx, ry) — constant per
    * region in EVERY mode so 4:2:0's 2×2 downsample is lossless.
    */
  def genCb(rx: Int, ry: Int, seed: Long): Int =
    ((rx * 23 + ry * 31 + seed * 5) % 256).toInt
  def genCr(rx: Int, ry: Int, seed: Long): Int =
    ((rx * 13 + ry * 37 + seed * 11) % 256).toInt

  /** Fixed-point (16.16) BT.601 full-range YCbCr→RGB, floor rounding —
    * integer-exact, replayed verbatim by the SQL oracle. Constants are
    * round(65536·{1.402, 0.344136, 0.714136, 1.772}).
    */
  def ycbcrToRgb(y: Int, cb: Int, cr: Int): Int = {
    val cbd = cb - 128
    val crd = cr - 128
    val r = y + ((91881 * crd + 32768) >> 16)
    val g = y - ((22554 * cbd + 46802 * crd + 32768) >> 16)
    val b = y + ((116130 * cbd + 32768) >> 16)
    (clamp8(r) << 16) | (clamp8(g) << 8) | clamp8(b)
  }
  private def clamp8(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  // ==== Shared tables ====

  /** Zigzag scan order: ZigZag(k) = natural index of the k-th coefficient
    * in scan order (T.81 Figure A.6).
    */
  private[ext] val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // Annex K.3 typical Huffman tables (public standard).
  private val DcLumBits = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumVals = Array.tabulate(12)(identity)
  private val DcChromBits = Array(0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChromVals = Array.tabulate(12)(identity)
  private val AcLumBits = Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumVals = Array(
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
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)
  private val AcChromBits = Array(0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChromVals = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15, 0x62, 0x72, 0xd1,
    0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a,
    0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
    0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  /** Canonical Huffman codes from a (bits[1..16], vals) table: returns
    * value → (code, length). Used by the encoder; the decoder builds its
    * mincode/maxcode arrays from the same walk.
    */
  private def canonicalCodes(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0
    var k = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len)) {
        out += vals(k) -> (code, len)
        code += 1
        k += 1
        i += 1
      }
      code <<= 1
      len += 1
    }
    out.result()
  }

  // ==== Encoder (fixtures) ====

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var nbits = 0
    def put(code: Int, width: Int): Unit = {
      var i = width - 1
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
    /** Pad the final partial byte with 1-bits (T.81 F.1.2.3). */
    def align(): Unit = if (nbits > 0) put((1 << (8 - nbits)) - 1, 8 - nbits)
  }

  /** Mode by seed: 0 grayscale, 1 YCbCr 4:4:4, 2 YCbCr 4:2:0. */
  def modeOf(seed: Long): Int = (((seed % 3) + 3) % 3).toInt

  /** A REAL baseline JFIF file of the generative block-flat pattern —
    * Annex K Huffman tables, quant step 8, restart interval 2 when the
    * seed is divisible by 7 (exercises DRI/RSTn).
    */
  def jpegBytes(w: Int, h: Int, seed: Long): Array[Byte] = {
    require(w > 0 && h > 0)
    val mode = modeOf(seed)
    val out = new java.io.ByteArrayOutputStream()
    def m(marker: Int): Unit = { out.write(0xff); out.write(marker) }
    def u16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }

    m(0xd8) // SOI
    m(0xe0); u16(16) // APP0 JFIF
    out.write(Array[Byte]('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    // DQT: table 0 (luma) and, for color, table 1 (chroma) — all steps 8
    val nTables = if (mode == 0) 1 else 2
    var t = 0
    while (t < nTables) {
      m(0xdb); u16(2 + 1 + 64); out.write(t)
      var i = 0
      while (i < 64) { out.write(8); i += 1 }
      t += 1
    }
    // SOF0
    val nComp = if (mode == 0) 1 else 3
    m(0xc0); u16(8 + 3 * nComp); out.write(8); u16(h); u16(w); out.write(nComp)
    val (hy, vy) = if (mode == 2) (2, 2) else (1, 1)
    out.write(1); out.write((hy << 4) | vy); out.write(0)
    if (nComp == 3) {
      out.write(2); out.write(0x11); out.write(1)
      out.write(3); out.write(0x11); out.write(1)
    }
    // DHT: DC/AC luma; DC/AC chroma for color
    def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      m(0xc4); u16(2 + 1 + 16 + vals.length); out.write((cls << 4) | id)
      var i = 1
      while (i <= 16) { out.write(bits(i)); i += 1 }
      vals.foreach(out.write)
    }
    dht(0, 0, DcLumBits, DcLumVals)
    dht(1, 0, AcLumBits, AcLumVals)
    if (nComp == 3) {
      dht(0, 1, DcChromBits, DcChromVals)
      dht(1, 1, AcChromBits, AcChromVals)
    }
    val dri = if (seed % 7 == 0) 2 else 0
    if (dri > 0) { m(0xdd); u16(4); u16(dri) }
    // SOS
    m(0xda); u16(6 + 2 * nComp); out.write(nComp)
    out.write(1); out.write(0x00)
    if (nComp == 3) { out.write(2); out.write(0x11); out.write(3); out.write(0x11) }
    out.write(0); out.write(63); out.write(0)

    // Entropy-coded data: flat blocks are DC-only (quantized DC = v - 128
    // at step 8) followed by EOB.
    val dcLum = canonicalCodes(DcLumBits, DcLumVals)
    val acLum = canonicalCodes(AcLumBits, AcLumVals)
    val dcChrom = canonicalCodes(DcChromBits, DcChromVals)
    val acChrom = canonicalCodes(AcChromBits, AcChromVals)
    val bw = new BitWriter(out)
    def block(value: Int, pred: Int, dc: Map[Int, (Int, Int)],
        ac: Map[Int, (Int, Int)]): Int = {
      val coef = value - 128
      var diff = coef - pred
      var ssss = 0
      var mag = math.abs(diff)
      while (mag != 0) { ssss += 1; mag >>= 1 }
      val (c, l) = dc(ssss)
      bw.put(c, l)
      if (ssss > 0) {
        if (diff < 0) diff += (1 << ssss) - 1
        bw.put(diff, ssss)
      }
      val (ec, el) = ac(0x00) // EOB: every AC coefficient is zero
      bw.put(ec, el)
      coef
    }
    val mcuW = if (mode == 2) 16 else 8
    val mcusX = (w + mcuW - 1) / mcuW
    val mcusY = (h + mcuW - 1) / mcuW
    var predY = 0; var predCb = 0; var predCr = 0
    var rst = 0
    var mcu = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (dri > 0 && mcu > 0 && mcu % dri == 0) {
          bw.align()
          m(0xd0 + rst)
          rst = (rst + 1) % 8
          predY = 0; predCb = 0; predCr = 0
        }
        if (mode == 2) {
          var j = 0
          while (j < 2) {
            var i = 0
            while (i < 2) {
              predY = block(genY(mx * 2 + i, my * 2 + j, seed), predY, dcLum, acLum)
              i += 1
            }
            j += 1
          }
          predCb = block(genCb(mx, my, seed), predCb, dcChrom, acChrom)
          predCr = block(genCr(mx, my, seed), predCr, dcChrom, acChrom)
        } else {
          predY = block(genY(mx, my, seed), predY, dcLum, acLum)
          if (mode == 1) {
            predCb = block(genCb(mx / 2, my / 2, seed), predCb, dcChrom, acChrom)
            predCr = block(genCr(mx / 2, my / 2, seed), predCr, dcChrom, acChrom)
          }
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    bw.align()
    m(0xd9) // EOI
    out.toByteArray
  }

  /** Single-block 8×8 grayscale JPEG with the given QUANTIZED
    * coefficients in zigzag order (general run-length/ZRL/EOB encoding,
    * quant step `q` everywhere) — drives the decoder's AC run paths that
    * the flat-block fixtures never touch. Test surface, but emits a real
    * baseline file.
    */
  private[ext] def grayJpegOfBlock(coefZigzag: Array[Int], q: Int): Array[Byte] = {
    require(coefZigzag.length == 64 && q > 0 && q < 256)
    val out = new java.io.ByteArrayOutputStream()
    def m(marker: Int): Unit = { out.write(0xff); out.write(marker) }
    def u16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    m(0xd8)
    m(0xdb); u16(2 + 1 + 64); out.write(0)
    (0 until 64).foreach(_ => out.write(q))
    m(0xc0); u16(11); out.write(8); u16(8); u16(8); out.write(1)
    out.write(1); out.write(0x11); out.write(0)
    def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      m(0xc4); u16(2 + 1 + 16 + vals.length); out.write((cls << 4) | id)
      (1 to 16).foreach(i => out.write(bits(i)))
      vals.foreach(out.write)
    }
    dht(0, 0, DcLumBits, DcLumVals)
    dht(1, 0, AcLumBits, AcLumVals)
    m(0xda); u16(8); out.write(1); out.write(1); out.write(0x00)
    out.write(0); out.write(63); out.write(0)
    val dc = canonicalCodes(DcLumBits, DcLumVals)
    val ac = canonicalCodes(AcLumBits, AcLumVals)
    val bw = new BitWriter(out)
    def amplitude(v: Int): (Int, Int) = { // (ssss, appended bits)
      var ssss = 0
      var mag = math.abs(v)
      while (mag != 0) { ssss += 1; mag >>= 1 }
      (ssss, if (v < 0) v + (1 << ssss) - 1 else v)
    }
    val (dSsss, dBits) = amplitude(coefZigzag(0))
    val (dc0, dl0) = dc(dSsss)
    bw.put(dc0, dl0)
    if (dSsss > 0) bw.put(dBits, dSsss)
    var k = 1
    var run = 0
    while (k < 64) {
      if (coefZigzag(k) == 0) run += 1
      else {
        while (run > 15) { val (zc, zl) = ac(0xf0); bw.put(zc, zl); run -= 16 }
        val (ssss, bits) = amplitude(coefZigzag(k))
        val (c, l) = ac((run << 4) | ssss)
        bw.put(c, l)
        bw.put(bits, ssss)
        run = 0
      }
      k += 1
    }
    if (run > 0) { val (ec, el) = ac(0x00); bw.put(ec, el) }
    bw.align()
    m(0xd9)
    out.toByteArray
  }

  // ==== Decoder ====

  private final class HuffTable(bits: Array[Int], val vals: Array[Int]) {
    // mincode/maxcode/valptr per length (T.81 F.2.2.3); maxcode = -1 for
    // lengths with no codes so the compare never matches
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        if (bits(l) > 0) {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l)
          k += bits(l)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
  }

  private final class BitReader(bytes: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    var eof = false
    def nextBit(): Int = {
      if (nbits == 0) {
        if (pos >= bytes.length) { eof = true; return 0 }
        val b = bytes(pos) & 0xff
        if (b == 0xff) {
          if (pos + 1 >= bytes.length) { eof = true; return 0 }
          val b2 = bytes(pos + 1) & 0xff
          if (b2 == 0x00) pos += 2 // stuffed 0xFF data byte
          else { eof = true; return 0 } // marker: entropy data exhausted
        } else pos += 1
        acc = b
        nbits = 8
      }
      nbits -= 1
      (acc >> nbits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | nextBit(); i += 1 }
      v
    }
    /** Byte-align and consume an expected RSTn marker; false if absent. */
    def restart(): Boolean = {
      nbits = 0
      if (pos + 1 >= bytes.length) return false
      if ((bytes(pos) & 0xff) != 0xff) return false
      val b2 = bytes(pos + 1) & 0xff
      if (b2 < 0xd0 || b2 > 0xd7) return false
      pos += 2
      true
    }
  }

  private def decodeHuff(br: BitReader, t: HuffTable): Int = {
    var code = br.nextBit()
    var l = 1
    while (code > t.maxCode(l)) {
      code = (code << 1) | br.nextBit()
      l += 1
      if (l > 16 || br.eof) return -1
    }
    val idx = t.valPtr(l) + code - t.minCode(l)
    if (idx < 0 || idx >= t.vals.length) -1 else t.vals(idx)
  }

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  // IDCT basis: cosT(u)(x) = C(u)·cos((2x+1)uπ/16)
  private val cosT: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    math.cos((2 * x + 1) * u * math.Pi / 16) *
      (if (u == 0) 1.0 / math.sqrt(2.0) else 1.0)
  }

  /** Separable 2-D IDCT of one dequantized block (natural order), level
    * shift, clamp — output 0..255 row-major.
    */
  private def idctBlock(coef: Array[Int], out: Array[Int]): Unit = {
    val tmp = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += cosT(u)(x) * coef(v * 8 + u); u += 1 }
        tmp(v * 8 + x) = s
        x += 1
      }
      v += 1
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var vv = 0
        while (vv < 8) { s += cosT(vv)(y) * tmp(vv * 8 + x); vv += 1 }
        out(y * 8 + x) = clamp8(math.round(s / 4.0 + 128.0).toInt)
        x += 1
      }
      y += 1
    }
  }

  private final case class Component(id: Int, h: Int, v: Int, tq: Int) {
    var dcTbl = 0
    var acTbl = 0
  }

  /** Decode a baseline JFIF/JPEG to packed RGB. General: any quant
    * tables, any DHT, any sampling with h,v ≤ 4, 1 or 3 components,
    * restart intervals. None on progressive/arithmetic/malformed input.
    */
  def decode(bytes: Array[Byte]): Option[Pixels.Image] = {
    if (bytes == null || bytes.length < 4) return None
    if ((bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return None
    val n = bytes.length
    var pos = 2
    val quant = new Array[Array[Int]](4)
    val dcTables = new Array[HuffTable](4)
    val acTables = new Array[HuffTable](4)
    var w = 0; var h = 0
    var comps: Array[Component] = null
    var dri = 0
    var sosAt = -1

    def u16At(i: Int): Int =
      if (i + 1 >= n) -1 else ((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff)

    // ---- marker walk up to SOS ----
    var done = false
    while (!done) {
      // markers must be aligned; tolerate 0xFF fill bytes before one
      if (pos < n && (bytes(pos) & 0xff) != 0xff) return None
      while (pos < n && (bytes(pos) & 0xff) == 0xff) pos += 1
      if (pos >= n) return None
      val marker = bytes(pos) & 0xff
      pos += 1
      marker match {
        case 0xd9 => return None // EOI before SOS
        case 0xc0 | 0xc1 => // SOF0/1: baseline (extended-sequential ok)
          val len = u16At(pos)
          if (len < 8 || pos + len > n) return None
          val prec = bytes(pos + 2) & 0xff
          h = u16At(pos + 3)
          w = u16At(pos + 5)
          val nc = bytes(pos + 7) & 0xff
          val maxDim = 1 << 14
          if (prec != 8 || w <= 0 || h <= 0 || w > maxDim || h > maxDim ||
            w.toLong * h > (1L << 26) || (nc != 1 && nc != 3) ||
            len != 8 + 3 * nc) return None
          comps = Array.tabulate(nc) { i =>
            val o = pos + 8 + 3 * i
            val hv = bytes(o + 1) & 0xff
            Component(bytes(o) & 0xff, (hv >> 4) & 0xf, hv & 0xf,
              bytes(o + 2) & 0xff)
          }
          if (comps.exists(c => c.h < 1 || c.h > 4 || c.v < 1 || c.v > 4 ||
            c.tq > 3)) return None
          pos += len
        case 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb | 0xcd |
            0xce | 0xcf =>
          return None // progressive / lossless / arithmetic: unsupported
        case 0xc4 => // DHT
          val len = u16At(pos)
          if (len < 2 || pos + len > n) return None
          var p = pos + 2
          val end = pos + len
          while (p < end) {
            if (p + 17 > end) return None
            val tc = (bytes(p) >> 4) & 0xf
            val th = bytes(p) & 0xf
            if (tc > 1 || th > 3) return None
            val bits = new Array[Int](17)
            var total = 0
            var i = 1
            while (i <= 16) {
              bits(i) = bytes(p + i) & 0xff
              total += bits(i)
              i += 1
            }
            if (total > 256 || p + 17 + total > end) return None
            val vals = new Array[Int](total)
            i = 0
            while (i < total) { vals(i) = bytes(p + 17 + i) & 0xff; i += 1 }
            val t = new HuffTable(bits, vals)
            if (tc == 0) dcTables(th) = t else acTables(th) = t
            p += 17 + total
          }
          pos += len
        case 0xdb => // DQT
          val len = u16At(pos)
          if (len < 2 || pos + len > n) return None
          var p = pos + 2
          val end = pos + len
          while (p < end) {
            val pq = (bytes(p) >> 4) & 0xf
            val tq = bytes(p) & 0xf
            if (pq > 1 || tq > 3) return None
            val entryBytes = if (pq == 1) 2 else 1
            if (p + 1 + 64 * entryBytes > end) return None
            val q = new Array[Int](64)
            var i = 0
            while (i < 64) {
              q(i) =
                if (pq == 1) u16At(p + 1 + 2 * i)
                else bytes(p + 1 + i) & 0xff
              if (q(i) <= 0) return None
              i += 1
            }
            quant(tq) = q
            p += 1 + 64 * entryBytes
          }
          pos += len
        case 0xdd => // DRI
          val len = u16At(pos)
          if (len != 4 || pos + len > n) return None
          dri = u16At(pos + 2)
          pos += len
        case 0xda => // SOS
          val len = u16At(pos)
          if (len < 6 || pos + len > n || comps == null) return None
          val ns = bytes(pos + 2) & 0xff
          if (ns != comps.length || len != 6 + 2 * ns) return None
          var i = 0
          while (i < ns) {
            val cs = bytes(pos + 3 + 2 * i) & 0xff
            val tt = bytes(pos + 4 + 2 * i) & 0xff
            val c = comps.find(_.id == cs).getOrElse(return None)
            c.dcTbl = (tt >> 4) & 0xf
            c.acTbl = tt & 0xf
            if (c.dcTbl > 3 || c.acTbl > 3) return None
            i += 1
          }
          sosAt = pos + len
          done = true
        case mk if mk == 0x01 || (mk >= 0xd0 && mk <= 0xd7) =>
          () // TEM / stray RST: no payload
        case _ => // APPn, COM, everything else: length-prefixed skip
          val len = u16At(pos)
          if (len < 2 || pos + len > n) return None
          pos += len
      }
    }
    if (sosAt < 0 || comps == null || w <= 0) return None

    // ---- geometry + allocation bounds ----
    val hmax = comps.map(_.h).max
    val vmax = comps.map(_.v).max
    val mcuW = 8 * hmax
    val mcuH = 8 * vmax
    val mcusX = (w + mcuW - 1) / mcuW
    val mcusY = (h + mcuH - 1) / mcuH
    val blocksPerMcu = comps.map(c => c.h * c.v).sum
    if (mcusX.toLong * mcusY * blocksPerMcu > (1L << 20)) return None
    for (c <- comps) {
      if (quant(c.tq) == null) return None
      if (dcTables(c.dcTbl) == null || acTables(c.acTbl) == null) return None
    }
    // per-component sample planes, padded to whole blocks
    val planeW = comps.map(c => mcusX * c.h * 8)
    val planeH = comps.map(c => mcusY * c.v * 8)
    val planes = Array.tabulate(comps.length)(i =>
      new Array[Int](planeW(i) * planeH(i)))

    // ---- entropy decode ----
    val br = new BitReader(bytes, sosAt)
    val preds = new Array[Int](comps.length)
    val coef = new Array[Int](64)
    val px = new Array[Int](64)
    var mcu = 0
    val totalMcus = mcusX * mcusY
    while (mcu < totalMcus) {
      if (dri > 0 && mcu > 0 && mcu % dri == 0) {
        if (!br.restart()) return None
        java.util.Arrays.fill(preds, 0)
      }
      val my = mcu / mcusX
      val mx = mcu % mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val qt = quant(c.tq)
        val dcT = dcTables(c.dcTbl)
        val acT = acTables(c.acTbl)
        var j = 0
        while (j < c.v) {
          var i = 0
          while (i < c.h) {
            java.util.Arrays.fill(coef, 0)
            val ssss = decodeHuff(br, dcT)
            if (ssss < 0 || ssss > 11 || br.eof) return None
            preds(ci) += extend(br.receive(ssss), ssss)
            coef(0) = preds(ci) * qt(0)
            var k = 1
            var eob = false
            while (!eob && k < 64) {
              val rs = decodeHuff(br, acT)
              if (rs < 0 || br.eof) return None
              val r = (rs >> 4) & 0xf
              val s = rs & 0xf
              if (s == 0) {
                if (r == 15) k += 16 // ZRL
                else eob = true
              } else {
                k += r
                if (k > 63) return None
                coef(ZigZag(k)) = extend(br.receive(s), s) * qt(k)
                k += 1
              }
            }
            if (k > 64) return None
            idctBlock(coef, px)
            // blit into the component plane
            val bx = (mx * c.h + i) * 8
            val by = (my * c.v + j) * 8
            val stride = planeW(ci)
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                planes(ci)((by + yy) * stride + bx + xx) = px(yy * 8 + xx)
                xx += 1
              }
              yy += 1
            }
            i += 1
          }
          j += 1
        }
        ci += 1
      }
      mcu += 1
    }

    // ---- upsample + color ----
    val pix = new Array[Int](w * h)
    if (comps.length == 1) {
      val stride = planeW(0)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = planes(0)(y * stride + x)
          pix(y * w + x) = (g << 16) | (g << 8) | g
          x += 1
        }
        y += 1
      }
    } else {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          // integer-replication upsample: source = (x·h_i/hmax, y·v_i/vmax)
          val yv = planes(0)((y * comps(0).v / vmax) * planeW(0) +
            (x * comps(0).h / hmax))
          val cb = planes(1)((y * comps(1).v / vmax) * planeW(1) +
            (x * comps(1).h / hmax))
          val cr = planes(2)((y * comps(2).v / vmax) * planeW(2) +
            (x * comps(2).h / hmax))
          pix(y * w + x) = ycbcrToRgb(yv, cb, cr)
          x += 1
        }
        y += 1
      }
    }
    Some(Pixels.Image(w, h, pix))
  }
}
