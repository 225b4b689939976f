package graft.multimodal

import scala.collection.mutable.ArrayBuilder

/** Pure-JVM FLAC stream codec (RFC 9639 / the xiph.org format spec).
  *
  * The DECODER is complete for the lossless core: STREAMINFO + skipped
  * metadata blocks, fixed- and variable-blocksize frames, all block-size /
  * sample-rate / sample-size codes, all four channel layouts (independent,
  * left/side, right/side, mid/side with the +1-bit side channel),
  * CONSTANT / VERBATIM / FIXED(0-4) / LPC subframes, wasted bits,
  * 4- and 5-bit Rice partitions with the raw-bits escape, and both frame
  * CRCs (CRC-8 header, CRC-16 footer) verified — a corrupted stream
  * degrades governed (None), never to garbage samples.
  *
  * The ENCODER is the fixture writer for specs and oracle queries (the
  * FLAC sibling of [[Multimodal.squareWav]]): mono or stereo 16-bit,
  * CONSTANT subframes for flat blocks, FIXED order-2 Rice-coded residuals
  * otherwise, odd blocks re-expressed as the equivalent LPC subframe
  * (coefficients [2, -1], shift 0 — the same predictor, so the LPC path
  * decodes against exact expectations), wasted-bits detection, left/side
  * and mid/side stereo. Losslessness is the oracle: decode(encode(s)) == s
  * bit-for-bit, which a stub or an off-by-one predictor cannot fake.
  *
  * Like the reference's media handling, payloads are opaque binaries in a
  * DataFrame column; decode runs per partition with zero driver state
  * (vector_mcp stores/serves opaque document payloads the same way —
  * vector_mcp/vector_api.py ingestion path).
  */
object Flac {

  final case class StreamInfo(
      minBlock: Int, maxBlock: Int, sampleRate: Int, channels: Int,
      bitsPerSample: Int, totalSamples: Long)

  /** Decoded PCM: samples(c)(i) is channel c, frame i, full amplitude
    * range of `bitsPerSample`.
    */
  final case class FlacAudio(
      sampleRate: Int, channels: Int, bitsPerSample: Int,
      samples: Array[Array[Int]])

  def isFlac(d: Array[Byte]): Boolean =
    d.length > 8 && d(0) == 'f'.toByte && d(1) == 'L'.toByte &&
      d(2) == 'a'.toByte && d(3) == 'C'.toByte

  // ---------------------------------------------------------------- CRCs
  // CRC-8, poly x^8 + x^2 + x + 1 (0x07), init 0 — frame-header checksum
  private val Crc8Table: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i
      var k = 0
      while (k < 8) { c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xff else (c << 1) & 0xff; k += 1 }
      t(i) = c
      i += 1
    }
    t
  }
  // CRC-16, poly x^16 + x^15 + x^2 + 1 (0x8005), init 0 — whole-frame checksum
  private val Crc16Table: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i << 8
      var k = 0
      while (k < 8) { c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xffff else (c << 1) & 0xffff; k += 1 }
      t(i) = c
      i += 1
    }
    t
  }
  private def crc8(d: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) { c = Crc8Table(c ^ (d(i) & 0xff)); i += 1 }
    c
  }
  private def crc16(d: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) { c = Crc16Table(((c >> 8) ^ (d(i) & 0xff)) & 0xff) ^ ((c << 8) & 0xffff); i += 1 }
    c
  }

  // ------------------------------------------------------------ bit reader
  private final class Reader(val d: Array[Byte]) {
    var byte = 0
    var bit = 0 // 0..7, MSB-first
    def aligned: Boolean = bit == 0
    def align(): Unit = if (bit != 0) { bit = 0; byte += 1 }
    def readBit(): Int = {
      val v = (d(byte) >> (7 - bit)) & 1
      bit += 1
      if (bit == 8) { bit = 0; byte += 1 }
      v
    }
    def readBits(n: Int): Long = { // n <= 57
      var v = 0L
      var left = n
      while (left > 0) {
        val avail = 8 - bit
        val take = math.min(avail, left)
        val chunk = ((d(byte) & 0xff) >> (avail - take)) & ((1 << take) - 1)
        v = (v << take) | chunk
        bit += take
        if (bit == 8) { bit = 0; byte += 1 }
        left -= take
      }
      v
    }
    def readSigned(n: Int): Long = {
      val v = readBits(n)
      if (n == 0) 0L else (v << (64 - n)) >> (64 - n) // sign-extend
    }
    def readUnary(): Int = {
      var q = 0
      while (readBit() == 0) q += 1
      q
    }
    /** FLAC's extended-UTF-8 coded frame/sample number (up to 36 bits). */
    def readCodedNumber(): Long = {
      val b0 = readBits(8).toInt
      if ((b0 & 0x80) == 0) return b0.toLong
      var cont = 0
      var mask = 0x40
      while ((b0 & mask) != 0) { cont += 1; mask >>= 1 }
      require(cont >= 1 && cont <= 6, s"bad coded-number lead byte $b0")
      var v = (b0 & (mask - 1)).toLong
      var i = 0
      while (i < cont) {
        val b = readBits(8).toInt
        require((b & 0xc0) == 0x80, s"bad coded-number continuation $b")
        v = (v << 6) | (b & 0x3f)
        i += 1
      }
      v
    }
  }

  // ------------------------------------------------------------- decoder
  private val RateTable = Array(
    -1, 88200, 176400, 192000, 8000, 16000, 22050, 24000,
    32000, 44100, 48000, 96000)
  private val SizeTable = Array(-1, 8, 12, -1, 16, 20, 24, 32)

  /** Decode a whole FLAC stream; None on any structural or CRC defect. */
  def decode(data: Array[Byte]): Option[FlacAudio] =
    try decodeStrict(data) catch { case _: Exception => None }

  private def decodeStrict(data: Array[Byte]): Option[FlacAudio] = {
    if (!isFlac(data)) return None
    var pos = 4
    var si: StreamInfo = null
    var last = false
    while (!last) { // metadata blocks
      val hdr = data(pos) & 0xff
      last = (hdr & 0x80) != 0
      val btype = hdr & 0x7f
      val len = ((data(pos + 1) & 0xff) << 16) | ((data(pos + 2) & 0xff) << 8) |
        (data(pos + 3) & 0xff)
      if (btype == 0) {
        val r = new Reader(data); r.byte = pos + 4
        val minB = r.readBits(16).toInt
        val maxB = r.readBits(16).toInt
        r.readBits(24); r.readBits(24) // min/max frame size (informational)
        val rate = r.readBits(20).toInt
        val ch = r.readBits(3).toInt + 1
        val bps = r.readBits(5).toInt + 1
        val total = r.readBits(36)
        si = StreamInfo(minB, maxB, rate, ch, bps, total)
      }
      pos += 4 + len
    }
    if (si == null) return None
    val out = Array.fill(si.channels)(new ArrayBuilder.ofInt)
    val r = new Reader(data)
    r.byte = pos
    while (r.byte < data.length - 2) {
      decodeFrame(r, si, out)
    }
    val chans = out.map(_.result())
    require(chans.forall(_.length == chans(0).length), "ragged channels")
    require(si.totalSamples == 0 || chans(0).length == si.totalSamples,
      s"sample count ${chans(0).length} != STREAMINFO ${si.totalSamples}")
    Some(FlacAudio(si.sampleRate, si.channels, si.bitsPerSample, chans))
  }

  private def decodeFrame(
      r: Reader, si: StreamInfo, out: Array[ArrayBuilder.ofInt]): Unit = {
    require(r.aligned, "frame must start byte-aligned")
    val start = r.byte
    val sync = r.readBits(14)
    require(sync == 0x3ffe, f"bad frame sync $sync%x at byte $start")
    require(r.readBit() == 0, "reserved bit set")
    r.readBit() // blocking strategy (0 fixed, 1 variable) — number read below
    val bsCode = r.readBits(4).toInt
    val srCode = r.readBits(4).toInt
    val chAsg = r.readBits(4).toInt
    val ssCode = r.readBits(3).toInt
    require(r.readBit() == 0, "reserved bit set")
    r.readCodedNumber() // frame or sample number (ordering not re-checked)
    val blockSize = bsCode match {
      case 0 => throw new IllegalArgumentException("reserved block size code")
      case 1 => 192
      case n if n >= 2 && n <= 5 => 576 << (n - 2)
      case 6 => r.readBits(8).toInt + 1
      case 7 => r.readBits(16).toInt + 1
      case n => 256 << (n - 8)
    }
    srCode match { // value only needed when it overrides STREAMINFO
      case 0 => si.sampleRate
      case n if n <= 11 => RateTable(n)
      case 12 => r.readBits(8).toInt * 1000
      case 13 => r.readBits(16).toInt
      case 14 => r.readBits(16).toInt * 10
      case _ => throw new IllegalArgumentException("invalid sample rate code")
    }
    val bps = if (ssCode == 0) si.bitsPerSample else {
      val v = SizeTable(ssCode)
      require(v > 0, "reserved sample size code")
      v
    }
    require(r.aligned, "header should be byte-aligned before CRC-8")
    val wantCrc8 = r.readBits(8).toInt
    require(crc8(r.d, start, r.byte - 1) == wantCrc8, "frame header CRC-8 mismatch")

    require(chAsg <= 10, s"reserved channel assignment $chAsg") // 11-15 reserved
    val nCh = if (chAsg <= 7) chAsg + 1 else 2
    require(nCh == si.channels, s"frame channels $nCh != STREAMINFO ${si.channels}")
    val chans = new Array[Array[Int]](nCh)
    var c = 0
    while (c < nCh) {
      // the side channel carries one extra bit of range
      val extra = chAsg match {
        case 8 => if (c == 1) 1 else 0 // left/side
        case 9 => if (c == 0) 1 else 0 // right/side (side is FIRST)
        case 10 => if (c == 1) 1 else 0 // mid/side
        case _ => 0
      }
      chans(c) = decodeSubframe(r, blockSize, bps + extra)
      c += 1
    }
    r.align()
    val wantCrc16 = r.readBits(16).toInt
    require(crc16(r.d, start, r.byte - 2) == wantCrc16, "frame CRC-16 mismatch")

    // undo inter-channel decorrelation (libFLAC stream_decoder semantics)
    chAsg match {
      case 8 => // left/side: right = left - side
        var i = 0
        while (i < blockSize) { chans(1)(i) = chans(0)(i) - chans(1)(i); i += 1 }
      case 9 => // right/side: left = side + right
        var i = 0
        while (i < blockSize) { chans(0)(i) = chans(0)(i) + chans(1)(i); i += 1 }
      case 10 => // mid/side
        var i = 0
        while (i < blockSize) {
          val side = chans(1)(i)
          var mid = chans(0)(i) << 1
          mid |= (side & 1)
          chans(0)(i) = (mid + side) >> 1
          chans(1)(i) = (mid - side) >> 1
          i += 1
        }
      case _ => ()
    }
    c = 0
    while (c < nCh) { out(c).addAll(chans(c)); c += 1 }
  }

  private def decodeSubframe(r: Reader, blockSize: Int, bps: Int): Array[Int] = {
    // a 32-bit stream's decorrelated side channel needs 33 bits, beyond
    // the Int sample representation — degrade governed, never wrap
    require(bps <= 32, s"side channels beyond 32 bits unsupported ($bps)")
    require(r.readBit() == 0, "subframe pad bit set")
    val stype = r.readBits(6).toInt
    val wasted =
      if (r.readBit() == 1) r.readUnary() + 1
      else 0
    val eb = bps - wasted // effective bits per sample
    val s = new Array[Int](blockSize)
    if (stype == 0) { // CONSTANT
      val v = r.readSigned(eb).toInt
      java.util.Arrays.fill(s, v)
    } else if (stype == 1) { // VERBATIM
      var i = 0
      while (i < blockSize) { s(i) = r.readSigned(eb).toInt; i += 1 }
    } else if ((stype & 0x38) == 0x08 && (stype & 0x07) <= 4) { // FIXED 0-4
      val order = stype & 0x07
      var i = 0
      while (i < order) { s(i) = r.readSigned(eb).toInt; i += 1 }
      readResiduals(r, blockSize, order, s)
      i = order
      while (i < blockSize) {
        val p: Long = order match {
          case 0 => 0L
          case 1 => s(i - 1).toLong
          case 2 => 2L * s(i - 1) - s(i - 2)
          case 3 => 3L * s(i - 1) - 3L * s(i - 2) + s(i - 3)
          case _ => 4L * s(i - 1) - 6L * s(i - 2) + 4L * s(i - 3) - s(i - 4)
        }
        s(i) = (s(i) + p).toInt
        i += 1
      }
    } else if ((stype & 0x20) != 0) { // LPC, order = low 5 bits + 1
      val order = (stype & 0x1f) + 1
      var i = 0
      while (i < order) { s(i) = r.readSigned(eb).toInt; i += 1 }
      val precision = r.readBits(4).toInt + 1
      require(precision <= 15, "invalid LPC precision")
      val shift = r.readSigned(5).toInt
      require(shift >= 0, "negative LPC shift")
      val coef = new Array[Int](order)
      i = 0
      while (i < order) { coef(i) = r.readSigned(precision).toInt; i += 1 }
      readResiduals(r, blockSize, order, s)
      i = order
      while (i < blockSize) {
        var acc = 0L
        var j = 0
        while (j < order) { acc += coef(j).toLong * s(i - 1 - j); j += 1 }
        s(i) = (s(i) + (acc >> shift)).toInt
        i += 1
      }
    } else throw new IllegalArgumentException(s"reserved subframe type $stype")
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { s(i) = s(i) << wasted; i += 1 }
    }
    s
  }

  /** Rice-coded residuals written into s(order until blockSize). */
  private def readResiduals(
      r: Reader, blockSize: Int, order: Int, s: Array[Int]): Unit = {
    val method = r.readBits(2).toInt
    require(method <= 1, "reserved residual method")
    val pBits = if (method == 0) 4 else 5
    val escape = (1 << pBits) - 1
    val po = r.readBits(4).toInt
    val parts = 1 << po
    require(blockSize % parts == 0, "partition order does not divide block")
    var idx = order
    var p = 0
    while (p < parts) {
      val n = (blockSize >> po) - (if (p == 0) order else 0)
      val param = r.readBits(pBits).toInt
      if (param == escape) {
        val raw = r.readBits(5).toInt
        var i = 0
        while (i < n) { s(idx) = r.readSigned(raw).toInt; idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < n) {
          val q = r.readUnary().toLong
          val u = (q << param) | r.readBits(param)
          s(idx) = ((u >>> 1) ^ -(u & 1L)).toInt // zigzag
          idx += 1
          i += 1
        }
      }
      p += 1
    }
  }

  // ------------------------------------------------------------- encoder
  private final class Writer {
    private var buf = new Array[Byte](1024)
    var byte = 0
    private var bit = 0
    private def ensure(n: Int): Unit =
      if (byte + n + 8 > buf.length) buf = java.util.Arrays.copyOf(buf, (buf.length + n) * 2)
    def writeBits(v: Long, n: Int): Unit = {
      ensure(n / 8 + 2)
      var left = n
      while (left > 0) {
        val avail = 8 - bit
        val take = math.min(avail, left)
        val chunk = ((v >>> (left - take)) & ((1L << take) - 1)).toInt
        buf(byte) = (buf(byte) | (chunk << (avail - take))).toByte
        bit += take
        if (bit == 8) { bit = 0; byte += 1 }
        left -= take
      }
    }
    def writeUnary(q: Int): Unit = { // q zeros then a 1
      var i = 0
      while (i < q) { writeBits(0, 1); i += 1 }
      writeBits(1, 1)
    }
    def align(): Unit = if (bit != 0) { bit = 0; byte += 1 }
    def aligned: Boolean = bit == 0
    def bytes: Array[Byte] = { require(bit == 0); java.util.Arrays.copyOf(buf, byte) }
    def crc8Range(from: Int, until: Int): Int = crc8(buf, from, until)
    def crc16Range(from: Int, until: Int): Int = crc16(buf, from, until)
  }

  /** Rice parameter minimizing the coded size of `res` (one partition);
    * -1 means the raw-bits escape is smaller.
    */
  private def bestRice(res: Array[Long], rawBits: Int): Int = {
    var best = -1
    // escape cost: the 5-bit width field is paid ONCE per partition, not
    // per residual (the 4-bit parameter field cancels between branches)
    var bestCost = 5L + res.length.toLong * rawBits
    var k = 0
    while (k <= 14) {
      var cost = 0L
      var i = 0
      while (i < res.length && cost < bestCost) {
        val u = (res(i) << 1) ^ (res(i) >> 63) // zigzag
        cost += (u >>> k) + 1 + k
        i += 1
      }
      if (cost < bestCost) { bestCost = cost; best = k }
      k += 1
    }
    best
  }

  /** One subframe: CONSTANT if flat, else FIXED order-2 (or its exact LPC
    * re-expression when `asLpc`) with one Rice partition; wasted bits
    * detected and stripped. `bps` includes any side-channel extra bit.
    */
  private def writeSubframe(
      w: Writer, samples: Array[Int], bps: Int, asLpc: Boolean): Unit = {
    w.writeBits(0, 1) // pad
    val n = samples.length
    val flat = samples.forall(_ == samples(0))
    // wasted bits: trailing zeros common to every sample (0 if any is 0)
    var wasted = 0
    if (!flat) {
      var orAll = 0
      var i = 0
      while (i < n) { orAll |= samples(i); i += 1 }
      if (orAll != 0) wasted = java.lang.Integer.numberOfTrailingZeros(orAll)
      if (wasted >= bps) wasted = 0
    }
    val eb = bps - wasted
    val s = if (wasted == 0) samples else samples.map(_ >> wasted)
    def writeWasted(): Unit =
      if (wasted > 0) { w.writeBits(1, 1); w.writeUnary(wasted - 1) }
      else w.writeBits(0, 1)
    if (flat) {
      w.writeBits(0, 6) // CONSTANT
      writeWasted()
      w.writeBits(samples(0).toLong & ((1L << bps) - 1), bps)
      return
    }
    val order = 2
    // eb > 26 would need >31-bit raw escapes (order-2 residuals carry
    // eb+2 bits) and can overflow the Int residual representation the
    // spec expects encoders to avoid — store wide samples VERBATIM
    if (n <= order || eb > 26) { // too short/wide to predict: VERBATIM
      w.writeBits(1, 6)
      writeWasted()
      var i = 0
      while (i < n) { w.writeBits(s(i).toLong & ((1L << eb) - 1), eb); i += 1 }
      return
    }
    if (asLpc) {
      w.writeBits(0x20 | (order - 1), 6) // LPC, order 2
    } else {
      w.writeBits(0x08 | order, 6) // FIXED order 2
    }
    writeWasted()
    var i = 0
    while (i < order) { w.writeBits(s(i).toLong & ((1L << eb) - 1), eb); i += 1 }
    if (asLpc) {
      // coefficients [2, -1] at shift 0 == the fixed order-2 predictor
      w.writeBits(3, 4) // precision-1 = 3 -> 4-bit coefficients
      w.writeBits(0, 5) // shift 0
      w.writeBits(2L & 0xf, 4)
      w.writeBits((-1L) & 0xf, 4)
    }
    val res = new Array[Long](n - order)
    i = order
    while (i < n) {
      res(i - order) = s(i).toLong - (2L * s(i - 1) - s(i - 2))
      i += 1
    }
    w.writeBits(0, 2) // 4-bit Rice method
    w.writeBits(0, 4) // partition order 0
    // raw-escape width: enough SIGNED bits for the widest residual (an
    // order-2 residual can exceed eb by 2 bits)
    var rawBits = 1
    i = 0
    while (i < res.length) {
      val v = res(i)
      val need = 65 - java.lang.Long.numberOfLeadingZeros(if (v < 0) ~v else v)
      if (need > rawBits) rawBits = need.toInt
      i += 1
    }
    require(rawBits <= 31, s"residual too wide for raw escape: $rawBits")
    val k = bestRice(res, rawBits)
    if (k < 0) {
      w.writeBits(15, 4) // escape
      w.writeBits(rawBits.toLong, 5)
      var j = 0
      while (j < res.length) { w.writeBits(res(j) & ((1L << rawBits) - 1), rawBits); j += 1 }
    } else {
      w.writeBits(k.toLong, 4)
      var j = 0
      while (j < res.length) {
        val u = (res(j) << 1) ^ (res(j) >> 63)
        w.writeUnary((u >>> k).toInt)
        w.writeBits(u & ((1L << k) - 1), k)
        j += 1
      }
    }
  }

  /** Encode 16-bit PCM as a real FLAC stream (see [[encode]]). */
  def encode16(
      chans: Array[Array[Int]], rate: Int, blockSize: Int = 512,
      lpcBlocks: Boolean = true): Array[Byte] =
    encode(chans, rate, blockSize, bps = 16, lpcBlocks)

  private val SampleSizeCode =
    Map(8 -> 1, 12 -> 2, 16 -> 4, 20 -> 5, 24 -> 6, 32 -> 7)

  /** Encode integer PCM at `bps` in {8,12,16,20,24,32} as a real FLAC
    * stream. `chans` is 1 or 2 per-channel arrays; stereo uses left/side
    * for even frames and mid/side for odd ones so both decorrelation
    * paths see coverage.
    */
  def encode(
      chans: Array[Array[Int]], rate: Int, blockSize: Int,
      bps: Int, lpcBlocks: Boolean = true): Array[Byte] = {
    val nCh = chans.length
    require(nCh == 1 || nCh == 2, s"1 or 2 channels, got $nCh")
    require(chans.forall(_.length == chans(0).length), "ragged channels")
    require(rate >= 1 && rate < (1 << 20), s"bad rate $rate")
    // RFC 9639 §5: the minimum conformant block size is 16 — smaller
    // blocks roundtrip here but external decoders may reject them
    require(blockSize >= 16 && blockSize <= 65535, s"bad block size $blockSize")
    require(SampleSizeCode.contains(bps), s"bps $bps not codable in a frame header")
    val total = chans(0).length
    require(total >= 1, "empty stream")
    val lo = if (bps == 32) Int.MinValue else -(1 << (bps - 1))
    val hi = if (bps == 32) Int.MaxValue else (1 << (bps - 1)) - 1
    chans.foreach(_.foreach(v =>
      require(v >= lo && v <= hi, s"sample $v out of $bps-bit range")))
    val w = new Writer
    w.writeBits(0x664c6143L, 32) // "fLaC"
    // STREAMINFO, last-metadata-block
    w.writeBits(0x80, 8)
    w.writeBits(34, 24)
    w.writeBits(blockSize.toLong, 16)
    w.writeBits(blockSize.toLong, 16)
    w.writeBits(0, 24); w.writeBits(0, 24) // frame sizes unknown
    w.writeBits(rate.toLong, 20)
    w.writeBits((nCh - 1).toLong, 3)
    w.writeBits((bps - 1).toLong, 5)
    w.writeBits(total.toLong, 36)
    var i = 0
    while (i < 16) { w.writeBits(0, 8); i += 1 } // MD5 unset
    var off = 0
    var frameNo = 0L
    while (off < total) {
      val n = math.min(blockSize, total - off)
      val start = w.byte
      w.writeBits(0x3ffe, 14) // sync
      w.writeBits(0, 1) // reserved
      w.writeBits(0, 1) // fixed blocksize strategy
      w.writeBits(7, 4) // block size: 16-bit follows
      w.writeBits(0, 4) // sample rate: from STREAMINFO
      // 32-bit stereo would need a 33-bit side channel (beyond the Int
      // sample representation) — encode it as independent channels
      val chAsg =
        if (nCh == 1) 0
        else if (bps > 24) 1
        else if (frameNo % 2 == 0) 8 else 10
      w.writeBits(chAsg.toLong, 4)
      w.writeBits(SampleSizeCode(bps).toLong, 3)
      w.writeBits(0, 1) // reserved
      // coded frame number (extended UTF-8); fixtures stay under 2^31
      writeCodedNumber(w, frameNo)
      w.writeBits((n - 1).toLong, 16)
      w.writeBits(w.crc8Range(start, w.byte).toLong, 8)
      val asLpc = lpcBlocks && frameNo % 2 == 1
      if (nCh == 1) {
        writeSubframe(w, java.util.Arrays.copyOfRange(chans(0), off, off + n),
          bps, asLpc)
      } else {
        val l = java.util.Arrays.copyOfRange(chans(0), off, off + n)
        val r = java.util.Arrays.copyOfRange(chans(1), off, off + n)
        if (chAsg == 1) { // independent (the 32-bit stereo form)
          writeSubframe(w, l, bps, asLpc)
          writeSubframe(w, r, bps, asLpc)
        } else if (chAsg == 8) { // left/side: store left, side = left - right
          val side = Array.tabulate(n)(j => l(j) - r(j))
          writeSubframe(w, l, bps, asLpc)
          writeSubframe(w, side, bps + 1, asLpc)
        } else { // mid/side: mid = (l+r)>>1, side = l-r
          val mid = Array.tabulate(n)(j => (l(j) + r(j)) >> 1)
          val side = Array.tabulate(n)(j => l(j) - r(j))
          writeSubframe(w, mid, bps, asLpc)
          writeSubframe(w, side, bps + 1, asLpc)
        }
      }
      w.align()
      w.writeBits(w.crc16Range(start, w.byte).toLong, 16)
      off += n
      frameNo += 1
    }
    w.bytes
  }

  private def writeCodedNumber(w: Writer, v: Long): Unit = {
    require(v >= 0, "negative frame number")
    if (v < 0x80) w.writeBits(v, 8)
    else if (v < 0x800) {
      w.writeBits(0xc0L | (v >> 6), 8); w.writeBits(0x80L | (v & 0x3f), 8)
    } else if (v < 0x10000) {
      w.writeBits(0xe0L | (v >> 12), 8)
      w.writeBits(0x80L | ((v >> 6) & 0x3f), 8)
      w.writeBits(0x80L | (v & 0x3f), 8)
    } else {
      require(v < (1L << 21), s"fixture frame number too large: $v")
      w.writeBits(0xf0L | (v >> 18), 8)
      w.writeBits(0x80L | ((v >> 12) & 0x3f), 8)
      w.writeBits(0x80L | ((v >> 6) & 0x3f), 8)
      w.writeBits(0x80L | (v & 0x3f), 8)
    }
  }
}
