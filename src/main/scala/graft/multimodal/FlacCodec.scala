package graft.multimodal

/** Pure-JVM FLAC codec — the audio family's LOSSLESS COMPRESSED member
  * next to [[Multimodal.WavCodec]] (raw PCM) and
  * [[Multimodal.ImaAdpcmCodec]] (lossy 4-bit): real linear-prediction
  * residual coding per the public FLAC format spec
  * (https://xiph.org/flac/format.html).
  *
  * Decoder scope (everything a spec-conforming 16-bit encoder emits):
  *  - STREAMINFO + metadata-block walk, frame sync scan
  *  - frame headers: all blocksize/sample-rate/sample-size codes,
  *    UTF-8-style coded numbers, CRC-8 verification
  *  - subframes: CONSTANT, VERBATIM, FIXED orders 0-4, LPC any order
  *    (4-bit precision, signed 5-bit shift, 64-bit accumulation)
  *  - residuals: Rice method 0 (4-bit params) and 1 (5-bit), partition
  *    orders, escape-to-raw partitions, zigzag
  *  - stereo decorrelation: independent, left/side, right/side,
  *    mid/side (side channel decoded at bps+1 per the spec)
  *  - wasted-bits shift
  *  - frame CRC-16 verification; `None`/frame-drop on any malformation
  *    (corrupt blobs quarantine, they never kill a task)
  *
  * The encoder exists to make REAL compressed fixtures whose decode is
  * oracle-replayable: it picks CONSTANT for uniform blocks and cycles
  * VERBATIM / FIXED(1) / FIXED(2) / LPC(2) otherwise, Rice method by
  * max needed parameter (escapes to raw when a 4-bit parameter can't
  * hold it), partition order 1 when the blocksize allows, and optional
  * wasted-bits extraction — so every decoder path above is exercised by
  * data whose samples are a closed form the oracle recomputes.
  * Reference behavior: GCS2Postgres treats binary columns as opaque
  * (README.md:9); this extends the engine's multimodal surface per
  * SURVEY §2.2.
  */
object FlacCodec {

  final case class FlacInfo(sampleRate: Int, channels: Int, bps: Int,
                            totalSamples: Long, framesStart: Int)

  // ----------------------------------------------------------------
  // bit I/O (MSB-first, per the FLAC spec)
  // ----------------------------------------------------------------

  private final class BitReader(val bytes: Array[Byte], startByte: Int) {
    var pos: Long = startByte.toLong * 8 // absolute bit cursor
    def bytePos: Int = (pos >> 3).toInt
    def alignByte(): Unit = pos = (pos + 7) & ~7L

    /** n in [0, 32]; returns -1-free unsigned value in a Long. */
    def bits(n: Int): Long = {
      var v = 0L; var k = n
      while (k > 0) {
        val byteIx = (pos >> 3).toInt
        val bitIx = (pos & 7).toInt
        val avail = 8 - bitIx
        val take = math.min(avail, k)
        val chunk = ((bytes(byteIx) & 0xff) >> (avail - take)) & ((1 << take) - 1)
        v = (v << take) | chunk
        pos += take; k -= take
      }
      v
    }

    def signedBits(n: Int): Int = {
      val v = bits(n)
      // sign-extend
      ((v << (64 - n)).toLong >> (64 - n)).toInt
    }

    /** Unary: count of 0 bits before the terminating 1. */
    def unary(): Int = {
      var q = 0
      while (bits(1) == 0L) {
        q += 1
        if (q > (1 << 24)) throw new FlacError("runaway unary")
      }
      q
    }
  }

  private final class BitWriter {
    private val buf = new java.io.ByteArrayOutputStream()
    private var cur = 0; private var nbits = 0
    def put(v: Long, n: Int): Unit = {
      var k = n
      while (k > 0) {
        val take = math.min(8 - nbits, k)
        val chunk = ((v >> (k - take)) & ((1L << take) - 1)).toInt
        cur = (cur << take) | chunk
        nbits += take; k -= take
        if (nbits == 8) { buf.write(cur); cur = 0; nbits = 0 }
      }
    }
    def putSigned(v: Int, n: Int): Unit = put(v.toLong & ((1L << n) - 1), n)
    def putUnary(q: Int): Unit = { var i = 0; while (i < q) { put(0, 1); i += 1 }; put(1, 1) }
    def alignByte(): Unit = if (nbits > 0) put(0, 8 - nbits)
    def toBytes: Array[Byte] = { require(nbits == 0); buf.toByteArray }
  }

  private final class FlacError(msg: String) extends RuntimeException(msg)

  // ----------------------------------------------------------------
  // CRCs (FLAC frame header CRC-8 poly 0x07, frame CRC-16 poly 0x8005)
  // ----------------------------------------------------------------

  def crc8(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= bytes(i) & 0xff
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
        b += 1
      }
      i += 1
    }
    crc
  }

  def crc16(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (bytes(i) & 0xff) << 8
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
              else (crc << 1) & 0xffff
        b += 1
      }
      i += 1
    }
    crc
  }

  // ----------------------------------------------------------------
  // parse: magic + metadata walk
  // ----------------------------------------------------------------

  def parse(bytes: Array[Byte]): Option[FlacInfo] = {
    if (bytes.length < 42 || bytes(0) != 'f' || bytes(1) != 'L' ||
        bytes(2) != 'a' || bytes(3) != 'C') return None
    var off = 4
    var info: Option[FlacInfo] = None
    var last = false
    while (!last) {
      if (off + 4 > bytes.length) return None
      val hdr = bytes(off) & 0xff
      last = (hdr & 0x80) != 0
      val btype = hdr & 0x7f
      val len = ((bytes(off + 1) & 0xff) << 16) | ((bytes(off + 2) & 0xff) << 8) |
        (bytes(off + 3) & 0xff)
      if (off + 4 + len > bytes.length) return None
      if (btype == 0) { // STREAMINFO
        if (len < 34) return None
        val r = new BitReader(bytes, off + 4)
        r.bits(16); r.bits(16) // min/max blocksize
        r.bits(24); r.bits(24) // min/max framesize
        val rate = r.bits(20).toInt
        val ch = r.bits(3).toInt + 1
        val bps = r.bits(5).toInt + 1
        val total = r.bits(36)
        info = Some(FlacInfo(rate, ch, bps, total, -1))
      }
      off += 4 + len
    }
    info.map(_.copy(framesStart = off))
      .filter(i => i.sampleRate > 0 && i.channels >= 1 && i.channels <= 8 &&
        i.bps >= 4 && i.bps <= 32 &&
        // declared-size bomb guard (the GifCodec absolute-cap device):
        // 16M samples/channel = 64 MB of ints — far above any clip this
        // pipeline decodes inline, far below an allocation DoS
        i.totalSamples <= (1L << 24))
  }

  // ----------------------------------------------------------------
  // decode
  // ----------------------------------------------------------------

  private val fixedCoefs: Array[Array[Int]] = Array(
    Array(), Array(1), Array(2, -1), Array(3, -3, 1), Array(4, -6, 4, -1))

  /** Decode every frame; returns one Array[Int] per channel, or None on
    * malformation anywhere (quarantine semantics — a truncated tail
    * drops the whole blob, never a partial result that would skew
    * downstream aggregates silently).
    */
  def decode(bytes: Array[Byte], info: FlacInfo): Option[Array[Array[Int]]] = {
    try {
      val out = Array.fill(info.channels)(
        new scala.collection.mutable.ArrayBuilder.ofInt)
      var off = info.framesStart
      var decoded = 0L
      while (decoded < info.totalSamples) {
        val (n, next) = decodeFrame(bytes, off, info, out)
        decoded += n
        off = next
      }
      if (decoded != info.totalSamples) None
      else Some(out.map(_.result()))
    } catch {
      case _: FlacError | _: ArrayIndexOutOfBoundsException |
           _: IndexOutOfBoundsException => None
    }
  }

  /** One frame; returns (samples decoded, next byte offset). */
  private def decodeFrame(bytes: Array[Byte], off: Int, info: FlacInfo,
      out: Array[scala.collection.mutable.ArrayBuilder.ofInt]): (Int, Int) = {
    val r = new BitReader(bytes, off)
    if (r.bits(14) != 0x3ffe) throw new FlacError("lost frame sync")
    if (r.bits(1) != 0) throw new FlacError("reserved bit")
    r.bits(1) // blocking strategy
    val bsCode = r.bits(4).toInt
    val srCode = r.bits(4).toInt
    val chAsgn = r.bits(4).toInt
    val ssCode = r.bits(3).toInt
    if (r.bits(1) != 0) throw new FlacError("reserved bit 2")
    // UTF-8-style coded number (frame or sample number) — skip
    val first = r.bits(8).toInt
    var extra = 0
    var mask = 0x80
    while ((first & mask) != 0) { extra += 1; mask >>= 1 }
    if (extra == 1 || extra > 6) throw new FlacError("bad coded number")
    var e = if (extra == 0) 0 else extra - 1
    while (e > 0) {
      if ((r.bits(8) & 0xc0) != 0x80) throw new FlacError("bad utf8 tail")
      e -= 1
    }
    val blockSize = bsCode match {
      case 0 => throw new FlacError("reserved blocksize")
      case 1 => 192
      case c if c >= 2 && c <= 5 => 576 << (c - 2)
      case 6 => r.bits(8).toInt + 1
      case 7 => r.bits(16).toInt + 1
      case c => 256 << (c - 8)
    }
    srCode match {
      case 12 => r.bits(8)
      case 13 | 14 => r.bits(16)
      case 15 => throw new FlacError("invalid sample rate code")
      case _ => ()
    }
    // CRC-8 over the header bytes read so far
    if ((r.pos & 7) != 0) throw new FlacError("unaligned frame header")
    val hdrEnd = r.bytePos
    if (crc8(bytes, off, hdrEnd) != r.bits(8).toInt)
      throw new FlacError("frame header CRC-8 mismatch")

    val nCh = chAsgn match {
      case a if a <= 7 => a + 1
      case 8 | 9 | 10 => 2
      case _ => throw new FlacError("reserved channel assignment")
    }
    if (nCh != info.channels) throw new FlacError("channel count drift")
    val bps = ssCode match {
      case 0 => info.bps
      case 1 => 8
      case 2 => 12
      case 4 => 16
      case 5 => 20
      case 6 => 24
      case 7 => 32
      case _ => throw new FlacError("reserved sample size")
    }
    if (blockSize <= 0 || blockSize > 65536) throw new FlacError("bad blocksize")

    val chans = new Array[Array[Int]](nCh)
    var ch = 0
    while (ch < nCh) {
      // side channels carry one extra bit (format spec, frame header)
      val extraBit = chAsgn match {
        case 8 if ch == 1 => 1  // left/side
        case 9 if ch == 0 => 1  // right/side (side first)
        case 10 if ch == 1 => 1 // mid/side
        case _ => 0
      }
      chans(ch) = decodeSubframe(r, blockSize, bps + extraBit)
      ch += 1
    }
    r.alignByte()
    val frameEnd = r.bytePos
    if (crc16(bytes, off, frameEnd) != r.bits(16).toInt)
      throw new FlacError("frame CRC-16 mismatch")

    // undo stereo decorrelation
    chAsgn match {
      case 8 => // left/side: right = left - side
        var i = 0
        while (i < blockSize) { chans(1)(i) = chans(0)(i) - chans(1)(i); i += 1 }
      case 9 => // right/side: left = right + side
        val side = chans(0)
        chans(0) = new Array[Int](blockSize)
        var i = 0
        while (i < blockSize) { chans(0)(i) = chans(1)(i) + side(i); i += 1 }
      case 10 => // mid/side
        var i = 0
        while (i < blockSize) {
          val side = chans(1)(i)
          val m = (chans(0)(i) << 1) | (side & 1)
          chans(0)(i) = (m + side) >> 1
          chans(1)(i) = (m - side) >> 1
          i += 1
        }
      case _ => ()
    }
    var c = 0
    while (c < nCh) { out(c) ++= chans(c); c += 1 }
    (blockSize, r.bytePos)
  }

  private def decodeSubframe(r: BitReader, n: Int, bps: Int): Array[Int] = {
    if (r.bits(1) != 0) throw new FlacError("subframe pad bit")
    val ty = r.bits(6).toInt
    var wasted = 0
    if (r.bits(1) == 1L) wasted = r.unary() + 1
    val effBps = bps - wasted
    if (effBps <= 0) throw new FlacError("wasted bits exceed bps")
    val s: Array[Int] = ty match {
      case 0 => // CONSTANT
        val v = r.signedBits(effBps)
        Array.fill(n)(v)
      case 1 => // VERBATIM
        Array.fill(n)(r.signedBits(effBps))
      case t if t >= 8 && t <= 12 => // FIXED order 0-4
        val order = t - 8
        if (order > n) throw new FlacError("fixed order > blocksize")
        val out = new Array[Int](n)
        var i = 0
        while (i < order) { out(i) = r.signedBits(effBps); i += 1 }
        val resid = decodeResidual(r, n, order)
        val coefs = fixedCoefs(order)
        while (i < n) {
          var acc = resid(i - order).toLong
          var j = 0
          while (j < order) { acc += coefs(j).toLong * out(i - 1 - j); j += 1 }
          out(i) = acc.toInt
          i += 1
        }
        out
      case t if t >= 32 => // LPC order (t - 31)
        val order = t - 31
        if (order > n) throw new FlacError("lpc order > blocksize")
        val out = new Array[Int](n)
        var i = 0
        while (i < order) { out(i) = r.signedBits(effBps); i += 1 }
        val precision = r.bits(4).toInt + 1
        if (precision == 16 /* code 15 reserved */ )
          throw new FlacError("reserved qlp precision")
        val shift = r.signedBits(5)
        if (shift < 0) throw new FlacError("negative qlp shift")
        val coefs = Array.fill(order)(r.signedBits(precision))
        val resid = decodeResidual(r, n, order)
        while (i < n) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coefs(j).toLong * out(i - 1 - j); j += 1 }
          out(i) = ((acc >> shift) + resid(i - order)).toInt
          i += 1
        }
        out
      case _ => throw new FlacError(s"reserved subframe type $ty")
    }
    if (wasted > 0) {
      var i = 0
      while (i < n) { s(i) = s(i) << wasted; i += 1 }
    }
    s
  }

  private def decodeResidual(r: BitReader, n: Int, order: Int): Array[Int] = {
    val method = r.bits(2).toInt
    if (method > 1) throw new FlacError("reserved residual method")
    val pBits = if (method == 0) 4 else 5
    val escape = if (method == 0) 0xf else 0x1f
    val po = r.bits(4).toInt
    val partitions = 1 << po
    if (n % partitions != 0 || (n >> po) <= order)
      throw new FlacError("bad partition order")
    val out = new Array[Int](n - order)
    var w = 0
    var p = 0
    while (p < partitions) {
      val count = (n >> po) - (if (p == 0) order else 0)
      val param = r.bits(pBits).toInt
      if (param == escape) {
        val rawBits = r.bits(5).toInt
        var i = 0
        while (i < count) {
          out(w) = if (rawBits == 0) 0 else r.signedBits(rawBits)
          w += 1; i += 1
        }
      } else {
        var i = 0
        while (i < count) {
          val q = r.unary()
          val v = (q.toLong << param) | r.bits(param)
          out(w) = ((v >>> 1) ^ -(v & 1L)).toInt // zigzag
          w += 1; i += 1
        }
      }
      p += 1
    }
    out
  }

  // ----------------------------------------------------------------
  // encode (fixture side — real spec-conforming streams)
  // ----------------------------------------------------------------

  /** Stereo decorrelation choice for [[encode]]. */
  sealed abstract class StereoMode(val code: Int)
  case object Independent extends StereoMode(-1)
  case object LeftSide extends StereoMode(8)
  case object RightSide extends StereoMode(9)
  case object MidSide extends StereoMode(10)

  def encode(channels: Array[Array[Int]], sampleRate: Int,
             blockSize: Int = 64, stereo: StereoMode = Independent,
             bps: Int = 16): Array[Byte] = {
    require(channels.nonEmpty && channels.forall(_.length == channels(0).length))
    require(channels.length == 2 || stereo == Independent)
    // Lossless contract: every sample must fit signed `bps` bits —
    // VERBATIM subframes write samples at effBps width, and with
    // bps <= 28 the FIXED order-2 residual bound (<= 4x the sample
    // range, so <= 2^(bps+2) <= 2^30) always fits the escape path's
    // 31-bit raw width. Without this gate, near-full-range Int samples
    // produce residuals needing up to 33 bits, which writeResidual
    // used to clamp silently -> lossy round trip.
    require(bps >= 4 && bps <= 28, s"bps $bps outside supported 4..28")
    val sLo = -(1 << (bps - 1)); val sHi = (1 << (bps - 1)) - 1
    require(channels.forall(_.forall(s => s >= sLo && s <= sHi)),
      s"samples exceed signed $bps-bit range; would round-trip lossy")
    val n = channels(0).length
    val os = new java.io.ByteArrayOutputStream()
    os.write(Array[Byte]('f', 'L', 'a', 'C'))
    // STREAMINFO (last metadata block)
    val si = new BitWriter
    si.put(0x80 | 0, 8); si.put(34, 24)
    si.put(blockSize, 16); si.put(blockSize, 16)
    si.put(0, 24); si.put(0, 24)
    si.put(sampleRate, 20)
    si.put(channels.length - 1, 3)
    si.put(bps - 1, 5)
    si.put(n, 36)
    (0 until 16).foreach(_ => si.put(0, 8)) // md5 unset
    os.write(si.toBytes)

    var frameNo = 0
    var s0 = 0
    while (s0 < n) {
      val bs = math.min(blockSize, n - s0)
      os.write(encodeFrame(channels, s0, bs, frameNo, stereo, bps))
      s0 += bs; frameNo += 1
    }
    os.toByteArray
  }

  private def encodeFrame(channels: Array[Array[Int]], s0: Int, bs: Int,
                          frameNo: Int, stereo: StereoMode,
                          bps: Int): Array[Byte] = {
    val w = new BitWriter
    w.put(0x3ffe, 14); w.put(0, 1); w.put(0, 1) // sync, reserved, fixed blocking
    w.put(if (bs <= 256) 6 else 7, 4) // explicit 8/16-bit blocksize
    w.put(0, 4) // sample rate from STREAMINFO
    val asgn = stereo match {
      case Independent => channels.length - 1
      case m => m.code
    }
    w.put(asgn, 4)
    w.put(4, 3) // 16-bit samples
    w.put(0, 1)
    // coded frame number, UTF-8 style
    if (frameNo < 0x80) w.put(frameNo, 8)
    else {
      require(frameNo < 0x800)
      w.put(0xc0 | (frameNo >> 6), 8); w.put(0x80 | (frameNo & 0x3f), 8)
    }
    if (bs <= 256) w.put(bs - 1, 8) else w.put(bs - 1, 16)
    w.alignByte()
    val hdrNoCrc = w.toBytes
    val withCrc = new BitWriter
    hdrNoCrc.foreach(b => withCrc.put(b & 0xff, 8))
    withCrc.put(crc8(hdrNoCrc, 0, hdrNoCrc.length), 8)

    // decorrelate
    val subChans: Array[(Array[Int], Int)] = stereo match {
      case Independent =>
        channels.map(c => (c.slice(s0, s0 + bs), bps))
      case LeftSide =>
        val l = channels(0).slice(s0, s0 + bs)
        val r = channels(1).slice(s0, s0 + bs)
        Array((l, bps), (Array.tabulate(bs)(i => l(i) - r(i)), bps + 1))
      case RightSide =>
        val l = channels(0).slice(s0, s0 + bs)
        val r = channels(1).slice(s0, s0 + bs)
        Array((Array.tabulate(bs)(i => l(i) - r(i)), bps + 1), (r, bps))
      case MidSide =>
        val l = channels(0).slice(s0, s0 + bs)
        val r = channels(1).slice(s0, s0 + bs)
        Array((Array.tabulate(bs)(i => (l(i) + r(i)) >> 1), bps),
          (Array.tabulate(bs)(i => l(i) - r(i)), bps + 1))
    }
    subChans.foreach { case (samples, chBps) =>
      encodeSubframe(withCrc, samples, chBps, frameNo)
    }
    withCrc.alignByte()
    val body = withCrc.toBytes
    val out = new BitWriter
    body.foreach(b => out.put(b & 0xff, 8))
    out.put(crc16(body, 0, body.length), 16)
    out.toBytes
  }

  private def encodeSubframe(w: BitWriter, samples0: Array[Int], bps: Int,
                             frameNo: Int): Unit = {
    val n = samples0.length
    // wasted-bits extraction: common trailing zero bits across the block
    var wasted = 0
    if (n > 0 && samples0.exists(_ != 0)) {
      var common = 32
      var i = 0
      while (i < n && common > 0) {
        if (samples0(i) != 0)
          common = math.min(common, java.lang.Integer.numberOfTrailingZeros(samples0(i)))
        i += 1
      }
      wasted = math.min(common, bps - 1)
    }
    val samples = if (wasted == 0) samples0 else samples0.map(_ >> wasted)
    val effBps = bps - wasted

    w.put(0, 1) // pad
    val uniform = samples.forall(_ == samples(0))
    val mode =
      if (uniform) 0
      else if (n <= 4) 1
      else frameNo % 4 match {
        case 0 => 1 // verbatim
        case 1 => 2 // fixed order 1
        case 2 => 3 // fixed order 2
        case _ => 4 // LPC order 2
      }
    def writeWasted(): Unit =
      if (wasted == 0) w.put(0, 1)
      else { w.put(1, 1); w.putUnary(wasted - 1) }
    mode match {
      case 0 =>
        w.put(0, 6); writeWasted(); w.putSigned(samples(0), effBps)
      case 1 =>
        w.put(1, 6); writeWasted()
        samples.foreach(s => w.putSigned(s, effBps))
      case 2 | 3 =>
        val order = mode - 1
        w.put(8 + order, 6); writeWasted()
        (0 until order).foreach(i => w.putSigned(samples(i), effBps))
        val coefs = fixedCoefs(order)
        val resid = Array.tabulate(n - order) { k =>
          val i = k + order
          var pred = 0L
          var j = 0
          while (j < order) { pred += coefs(j).toLong * samples(i - 1 - j); j += 1 }
          (samples(i) - pred).toInt
        }
        writeResidual(w, resid, n, order)
      case 4 =>
        val order = 2
        // deliberate integer-exact quantized predictor: 3/2 s[i-1] - 1/2 s[i-2]
        val coefs = Array(3, -1); val shift = 1; val precision = 4
        w.put(32 + order - 1, 6); writeWasted()
        (0 until order).foreach(i => w.putSigned(samples(i), effBps))
        w.put(precision - 1, 4)
        w.putSigned(shift, 5)
        coefs.foreach(c => w.putSigned(c, precision))
        val resid = Array.tabulate(n - order) { k =>
          val i = k + order
          var acc = 0L
          var j = 0
          while (j < order) { acc += coefs(j).toLong * samples(i - 1 - j); j += 1 }
          (samples(i) - (acc >> shift)).toInt
        }
        writeResidual(w, resid, n, order)
    }
  }

  private def writeResidual(w: BitWriter, resid: Array[Int], n: Int,
                            order: Int): Unit = {
    val po = if (n % 2 == 0 && (n >> 1) > order && resid.length > 1) 1 else 0
    val partitions = 1 << po
    // per-partition Rice parameter from the mean zigzag magnitude
    val params = new Array[Int](partitions)
    val bounds = new Array[(Int, Int)](partitions)
    var from = 0
    var p = 0
    while (p < partitions) {
      val count = (n >> po) - (if (p == 0) order else 0)
      var sum = 0L
      var i = from
      while (i < from + count) {
        val v = resid(i)
        sum += ((v.toLong << 1) ^ (v.toLong >> 63)) & 0xffffffffL
        i += 1
      }
      val mean = if (count == 0) 0L else sum / math.max(1, count)
      var param = 0
      while ((mean >> param) > 1 && param < 30) param += 1
      params(p) = param
      bounds(p) = (from, from + count)
      from += count
      p += 1
    }
    // method: 4-bit params when every partition fits (escape included),
    // else 5-bit — both directions of the spec get exercised
    val method = if (params.forall(_ <= 14)) 0 else 1
    val pBits = if (method == 0) 4 else 5
    val escape = if (method == 0) 0xf else 0x1f
    w.put(method, 2)
    w.put(po, 4)
    p = 0
    while (p < partitions) {
      val (a, b) = bounds(p)
      val param = params(p)
      // escape to raw when rice would be degenerate (huge quotients)
      var maxQ = 0L
      var i = a
      while (i < b) {
        val z = ((resid(i).toLong << 1) ^ (resid(i).toLong >> 63))
        maxQ = math.max(maxQ, z >> param)
        i += 1
      }
      if (maxQ > 256) {
        var rawBits = 2
        i = a
        while (i < b) {
          // signed width: magnitude bits (64 - nlz) + sign bit
          val need = 65 - java.lang.Long.numberOfLeadingZeros(
            math.abs(resid(i).toLong).max(1L))
          if (need > rawBits) rawBits = need
          i += 1
        }
        // backstop for the encode() sample-range gate: the 5-bit escape
        // width field caps raw residuals at 31 bits — fail loudly
        // rather than truncate (a clamp here round-trips LOSSY)
        require(rawBits <= 31,
          s"residual needs $rawBits bits > 31-bit escape limit")
        w.put(escape, pBits)
        w.put(rawBits, 5)
        i = a
        while (i < b) { w.putSigned(resid(i), rawBits); i += 1 }
      } else {
        w.put(param, pBits)
        i = a
        while (i < b) {
          val z = ((resid(i).toLong << 1) ^ (resid(i).toLong >> 63))
          w.putUnary((z >> param).toInt)
          w.put(z & ((1L << param) - 1), param)
          i += 1
        }
      }
      p += 1
    }
  }
}
