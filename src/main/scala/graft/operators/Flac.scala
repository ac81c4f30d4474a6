package graft.operators

/** Pure-JVM FLAC codec (the free-lossless-audio format; public spec at
  * xiph.org / RFC 9639). Closes the audio gap between uncompressed PCM /
  * IMA-ADPCM and the named psychoacoustic exclusion (MP3-class): FLAC is
  * the lossless member of the family, so — unlike the ADPCM gate's
  * exact-representable subspace — ANY synthesized PCM round-trips
  * bit-exactly, which makes every digest-replay oracle applicable to
  * arbitrary content.
  *
  * Decoder: full 16-bit mono/stereo subset streams — STREAMINFO +
  * skipped metadata blocks, frame-header sync/CRC-8, all four subframe
  * types (CONSTANT, VERBATIM, FIXED orders 0–4, LPC orders 1–32),
  * wasted bits, both Rice residual methods (4- and 5-bit parameters,
  * partition orders 0–15, escape-to-raw partitions), all four channel
  * assignments (independent, left/side, right/side, mid/side),
  * frame CRC-16, and the STREAMINFO MD5 signature over the decoded
  * PCM — decode FAILS LOUDLY on any corruption (the codec contract the
  * PNG/GIF decoders follow; hostile input cannot decode silently).
  *
  * Encoder: a conformant subset encoder any FLAC decoder reads —
  * fixed-predictor per-subframe search (orders 0–2, best by residual
  * magnitude), single-partition Rice residuals with estimated
  * parameter, independent channels, correct CRCs and MD5.
  *
  * Named exclusions (rejected, never mis-decoded): sample sizes other
  * than 16 bits, more than 2 channels, variable-blocksize streams.
  */
object Flac {

  /** Allocation guard for the untrusted 36-bit STREAMINFO sample count:
    * 2^28 samples ≈ 1.7 h of stereo 44.1 kHz and ≈ 2 GiB of decode
    * buffers — far above any fixture, far below the 8 GiB a hostile
    * header could otherwise demand.
    */
  val MaxTotalSamples: Long = 1L << 28

  // ------------------------------------------------------------ bit I/O

  /** MSB-first bit reader (the FLAC bitstream order). */
  private final class BitReader(data: Array[Byte], var byteOff: Int) {
    private var bitOff = 0
    def atByteBoundary: Boolean = bitOff == 0
    def bytePos: Int = byteOff
    def readBit(): Int = {
      require(byteOff < data.length, "FLAC bitstream truncated")
      val b = (data(byteOff) >> (7 - bitOff)) & 1
      bitOff += 1
      if (bitOff == 8) { bitOff = 0; byteOff += 1 }
      b
    }
    def readBits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def readInt(n: Int): Int = readBits(n).toInt
    /** Signed two's-complement read. */
    def readSigned(n: Int): Int = {
      val v = readBits(n)
      if (n > 0 && (v & (1L << (n - 1))) != 0) (v - (1L << n)).toInt else v.toInt
    }
    def readUnary(): Int = {
      var q = 0
      while (readBit() == 0) q += 1
      q
    }
    def alignToByte(): Unit = if (bitOff != 0) { bitOff = 0; byteOff += 1 }
  }

  /** MSB-first bit writer. */
  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var nbits = 0
    def writeBit(b: Int): Unit = {
      acc = (acc << 1) | (b & 1)
      nbits += 1
      if (nbits == 8) { out.write(acc); acc = 0; nbits = 0 }
    }
    def writeBits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { writeBit(((v >> i) & 1L).toInt); i -= 1 }
    }
    def writeUnary(q: Int): Unit = {
      var i = 0
      while (i < q) { writeBit(0); i += 1 }
      writeBit(1)
    }
    def alignToByte(): Unit = while (nbits != 0) writeBit(0)
    def toBytes: Array[Byte] = { require(nbits == 0, "unaligned"); out.toByteArray }
  }

  // ------------------------------------------------------------- CRCs

  /** CRC-8, poly x^8+x^2+x+1 (0x07), init 0 — frame header CRC. */
  def crc8(data: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= data(i) & 0xff
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
        k += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0 — whole-frame CRC. */
  def crc16(data: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (data(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
          else (crc << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    crc
  }

  // ------------------------------------------- frame-number UTF-8 coding

  /** FLAC's UTF-8-style extended coding of the frame number. */
  private def writeUtf8Number(bw: BitWriter, n0: Long): Unit = {
    require(n0 >= 0)
    if (n0 < 0x80) bw.writeBits(n0, 8)
    else {
      // count of payload bytes needed (6 bits each)
      var bytes = 1
      while (n0 >= (1L << (6 * bytes + (6 - bytes))) && bytes < 6) bytes += 1
      // leading byte: (bytes+1) ones, a zero, then the top payload bits
      var i = 0
      while (i <= bytes) { bw.writeBit(1); i += 1 }
      bw.writeBit(0)
      bw.writeBits(n0 >> (6 * bytes), 6 - bytes)
      var k = bytes - 1
      while (k >= 0) {
        bw.writeBits(0x2L, 2) // 10 continuation marker
        bw.writeBits((n0 >> (6 * k)) & 0x3f, 6)
        k -= 1
      }
    }
  }

  private def readUtf8Number(br: BitReader): Long = {
    val first = br.readInt(8)
    if ((first & 0x80) == 0) first.toLong
    else {
      var ones = 0
      while (ones < 8 && ((first << ones) & 0x80) != 0) ones += 1
      require(ones >= 2 && ones <= 7, s"bad UTF-8-coded frame number lead byte $first")
      val payloadBytes = ones - 1
      var v: Long = first & (0x7f >> ones)
      var i = 0
      while (i < payloadBytes) {
        val c = br.readInt(8)
        require((c & 0xc0) == 0x80, s"bad UTF-8 continuation byte $c")
        v = (v << 6) | (c & 0x3f)
        i += 1
      }
      v
    }
  }

  // --------------------------------------------------------------- model

  final case class FlacStream(
      sampleRate: Int, channels: Int, bits: Int, totalSamples: Long,
      /** Per-channel PCM, `channels` arrays of `totalSamples` samples. */
      pcm: Array[Array[Int]])

  private val FixedCoefs: Array[Array[Int]] = Array(
    Array(), Array(1), Array(2, -1), Array(3, -3, 1), Array(4, -6, 4, -1))

  // -------------------------------------------------------------- decode

  def decode(bytes: Array[Byte]): FlacStream = {
    require(bytes.length >= 42 && bytes(0) == 'f' && bytes(1) == 'L' &&
      bytes(2) == 'a' && bytes(3) == 'C', "not FLAC: bad fLaC marker")
    val br = new BitReader(bytes, 4)
    // metadata blocks; STREAMINFO must come first
    var last = false
    var sampleRate = -1
    var channels = -1
    var bits = -1
    var totalSamples = -1L
    var streamMd5: Array[Byte] = null
    var blockSizeMin, blockSizeMax = -1
    var first = true
    while (!last) {
      last = br.readBit() == 1
      val btype = br.readInt(7)
      val blen = br.readInt(24)
      if (first) {
        require(btype == 0, s"first metadata block type $btype != STREAMINFO")
        require(blen == 34, s"STREAMINFO length $blen != 34")
        blockSizeMin = br.readInt(16)
        blockSizeMax = br.readInt(16)
        br.readBits(24); br.readBits(24) // min/max frame size (informational)
        sampleRate = br.readInt(20)
        channels = br.readInt(3) + 1
        bits = br.readInt(5) + 1
        totalSamples = br.readBits(36)
        streamMd5 = new Array[Byte](16)
        var i = 0
        while (i < 16) { streamMd5(i) = br.readInt(8).toByte; i += 1 }
        first = false
      } else {
        require(btype != 0, "duplicate STREAMINFO")
        require(btype != 127, "invalid metadata block type 127")
        var i = 0
        while (i < blen) { br.readInt(8); i += 1 } // skip (SEEKTABLE, PADDING, …)
      }
    }
    require(sampleRate > 0, s"bad sample rate $sampleRate")
    require(channels == 1 || channels == 2,
      s"unsupported channel count $channels (mono/stereo subset)")
    require(bits == 16, s"unsupported sample size $bits (16-bit subset)")
    require(blockSizeMin == blockSizeMax,
      s"variable blocksize stream ($blockSizeMin..$blockSizeMax) unsupported")
    // the 36-bit STREAMINFO sample count is untrusted input — bound it
    // BEFORE allocating (a hostile 14-byte header could otherwise demand
    // gigabytes), matching the sibling codecs' unreasonable-dimension guards
    require(totalSamples <= MaxTotalSamples,
      s"STREAMINFO declares $totalSamples samples, cap is $MaxTotalSamples")
    val out = Array.fill(channels)(new Array[Int](
      math.toIntExact(totalSamples)))
    var got = 0L
    var frameOrdinal = 0L
    while (got < totalSamples) {
      got += decodeFrame(bytes, br, channels, bits, out, got, frameOrdinal)
      frameOrdinal += 1
    }
    require(got == totalSamples,
      s"decoded $got samples, STREAMINFO declares $totalSamples")
    // STREAMINFO MD5 is over the interleaved little-endian PCM bytes —
    // the whole-stream integrity signature; a zero MD5 means "unset"
    if (streamMd5.exists(_ != 0)) {
      val md = java.security.MessageDigest.getInstance("MD5")
      val buf = new Array[Byte](2 * channels)
      var i = 0
      while (i < totalSamples) {
        var c = 0
        while (c < channels) {
          val s = out(c)(i.toInt)
          buf(2 * c) = (s & 0xff).toByte
          buf(2 * c + 1) = ((s >> 8) & 0xff).toByte
          c += 1
        }
        md.update(buf)
        i += 1
      }
      require(java.util.Arrays.equals(md.digest(), streamMd5),
        "decoded PCM does not match the STREAMINFO MD5 signature")
    }
    FlacStream(sampleRate, channels, bits, totalSamples, out)
  }

  /** Decode one frame at the reader's position; returns its block size. */
  private def decodeFrame(bytes: Array[Byte], br: BitReader, channels: Int,
      bits: Int, out: Array[Array[Int]], at: Long, ordinal: Long): Int = {
    br.alignToByte()
    val headerStart = br.bytePos
    val sync = br.readInt(14)
    require(sync == 0x3ffe, f"bad frame sync $sync%04x at byte $headerStart")
    require(br.readBit() == 0, "reserved frame-header bit set")
    // blocking strategy: STREAMINFO already pinned constant blocksize;
    // a variable-blocksize frame bit contradicts it (and would make the
    // coded number a SAMPLE number, breaking the ordinal check cleanly)
    require(br.readBit() == 0, "variable-blocksize frame in a fixed-blocksize stream")
    val bsCode = br.readInt(4)
    val srCode = br.readInt(4)
    val chanAsgn = br.readInt(4)
    val ssCode = br.readInt(3)
    require(br.readBit() == 0, "reserved frame-header bit set")
    // fixed-blocksize streams carry the FRAME number — a mismatch means
    // frames were dropped/reordered and the stream must not decode
    val frameNo = readUtf8Number(br)
    require(frameNo == ordinal,
      s"frame number $frameNo at ordinal $ordinal (dropped/reordered frame)")
    val blockSize = bsCode match {
      case 1 => 192
      case c if c >= 2 && c <= 5 => 576 << (c - 2)
      case 6 => br.readInt(8) + 1
      case 7 => br.readInt(16) + 1
      case c if c >= 8 => 256 << (c - 8)
      case c => sys.error(s"reserved block size code $c")
    }
    if (srCode == 12) br.readInt(8)
    else if (srCode == 13 || srCode == 14) br.readInt(16)
    else require(srCode != 15, "invalid sample rate code 15")
    val frameBits = ssCode match {
      case 0 => bits // from STREAMINFO
      case 1 => 8
      case 2 => 12
      case 4 => 16
      case 5 => 20
      case 6 => 24
      case 7 => 32
      case c => sys.error(s"reserved sample size code $c")
    }
    require(frameBits == bits, s"frame sample size $frameBits != stream $bits")
    val headerCrc = crc8(bytes, headerStart, br.bytePos)
    require(br.atByteBoundary, "frame header not byte-aligned before CRC")
    require(br.readInt(8) == headerCrc, "frame header CRC-8 mismatch")
    val (nch, sideBitsOf): (Int, Int => Int) = chanAsgn match {
      case a if a <= 7 =>
        require(a + 1 == channels, s"channel assignment $a != $channels channels")
        (channels, _ => 0)
      case 8 => (2, ch => if (ch == 1) 1 else 0) // left/side
      case 9 => (2, ch => if (ch == 0) 1 else 0) // right/side
      case 10 => (2, ch => if (ch == 1) 1 else 0) // mid/side
      case a => sys.error(s"reserved channel assignment $a")
    }
    if (chanAsgn >= 8) require(channels == 2, "stereo decorrelation on mono stream")
    require(at + blockSize <= out(0).length,
      s"frame at $at overruns the declared total of ${out(0).length} samples")
    val sub = Array.ofDim[Int](nch, blockSize)
    var ch = 0
    while (ch < nch) {
      decodeSubframe(br, blockSize, bits + sideBitsOf(ch), sub(ch))
      ch += 1
    }
    br.alignToByte()
    val frameCrc = crc16(bytes, headerStart, br.bytePos)
    require(br.readInt(16) == frameCrc, "frame CRC-16 mismatch")
    // channel decorrelation
    val base = math.toIntExact(at)
    var i = 0
    chanAsgn match {
      case a if a <= 7 =>
        var c = 0
        while (c < nch) {
          System.arraycopy(sub(c), 0, out(c), base, blockSize); c += 1
        }
      case 8 => // left + side: right = left - side
        while (i < blockSize) {
          out(0)(base + i) = sub(0)(i)
          out(1)(base + i) = sub(0)(i) - sub(1)(i)
          i += 1
        }
      case 9 => // side + right: left = right + side
        while (i < blockSize) {
          out(0)(base + i) = sub(1)(i) + sub(0)(i)
          out(1)(base + i) = sub(1)(i)
          i += 1
        }
      case 10 => // mid + side
        while (i < blockSize) {
          val side = sub(1)(i)
          val mid = (sub(0)(i) << 1) | (side & 1)
          out(0)(base + i) = (mid + side) >> 1
          out(1)(base + i) = (mid - side) >> 1
          i += 1
        }
    }
    blockSize
  }

  private def decodeSubframe(br: BitReader, blockSize: Int, bits: Int,
      out: Array[Int]): Unit = {
    require(br.readBit() == 0, "subframe padding bit set")
    val stype = br.readInt(6)
    val wasted =
      if (br.readBit() == 1) br.readUnary() + 1 else 0
    val ebits = bits - wasted
    stype match {
      case 0 => // CONSTANT
        val v = br.readSigned(ebits)
        java.util.Arrays.fill(out, v)
      case 1 => // VERBATIM
        var i = 0
        while (i < blockSize) { out(i) = br.readSigned(ebits); i += 1 }
      case t if t >= 8 && t <= 12 => // FIXED, order t-8
        val order = t - 8
        var i = 0
        while (i < order) { out(i) = br.readSigned(ebits); i += 1 }
        readResidual(br, blockSize, order, out)
        val coefs = FixedCoefs(order)
        i = order
        while (i < blockSize) {
          var pred = 0L
          var k = 0
          while (k < order) { pred += coefs(k).toLong * out(i - 1 - k); k += 1 }
          out(i) = (out(i) + pred).toInt
          i += 1
        }
      case t if t >= 32 => // LPC, order t-31
        val order = t - 31
        var i = 0
        while (i < order) { out(i) = br.readSigned(ebits); i += 1 }
        val precision = br.readInt(4) + 1
        require(precision <= 15, s"invalid qlp precision code")
        val shift = br.readSigned(5)
        require(shift >= 0, s"negative qlp shift $shift")
        val coefs = new Array[Int](order)
        i = 0
        while (i < order) { coefs(i) = br.readSigned(precision); i += 1 }
        readResidual(br, blockSize, order, out)
        i = order
        while (i < blockSize) {
          var pred = 0L
          var k = 0
          while (k < order) { pred += coefs(k).toLong * out(i - 1 - k); k += 1 }
          out(i) = (out(i) + (pred >> shift)).toInt
          i += 1
        }
      case t => sys.error(s"reserved subframe type $t")
    }
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { out(i) = out(i) << wasted; i += 1 }
    }
  }

  /** Rice-coded residual into out(order until blockSize). */
  private def readResidual(br: BitReader, blockSize: Int, order: Int,
      out: Array[Int]): Unit = {
    val method = br.readInt(2)
    require(method <= 1, s"reserved residual coding method $method")
    val paramBits = if (method == 0) 4 else 5
    val escape = (1 << paramBits) - 1
    val partOrder = br.readInt(4)
    val nParts = 1 << partOrder
    require(blockSize % nParts == 0, s"block $blockSize not divisible into $nParts partitions")
    val partLen = blockSize >> partOrder
    require(partLen > order || partOrder == 0, "first partition shorter than predictor order")
    var p = 0
    var idx = order
    while (p < nParts) {
      val n = if (p == 0) partLen - order else partLen
      val param = br.readInt(paramBits)
      if (param == escape) {
        val raw = br.readInt(5)
        var i = 0
        while (i < n) { out(idx) = if (raw == 0) 0 else br.readSigned(raw); idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < n) {
          val q = br.readUnary()
          val r = if (param == 0) 0L else br.readBits(param)
          val u = (q.toLong << param) | r
          out(idx) = (if ((u & 1) == 0) u >> 1 else -((u >> 1) + 1)).toInt
          idx += 1; i += 1
        }
      }
      p += 1
    }
  }

  // -------------------------------------------------------------- encode

  /** Encode 16-bit PCM (per-channel arrays) as a subset FLAC stream:
    * constant blocksize, independent channels, per-subframe best FIXED
    * order 0–2 with single-partition Rice residuals. Any conformant
    * FLAC decoder reads the output; [[decode]] round-trips it
    * bit-exactly (lossless).
    */
  def encode(pcm: Array[Array[Int]], sampleRate: Int,
      blockSize: Int = 4096): Array[Byte] = {
    val channels = pcm.length
    require(channels == 1 || channels == 2, "mono/stereo only")
    val n = pcm(0).length
    require(pcm.forall(_.length == n), "channel length mismatch")
    require(pcm.forall(_.forall(s => s >= Short.MinValue && s <= Short.MaxValue)),
      "samples must be 16-bit")
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    // STREAMINFO (last metadata block)
    val md = java.security.MessageDigest.getInstance("MD5")
    val ibuf = new Array[Byte](2 * channels)
    var i = 0
    while (i < n) {
      var c = 0
      while (c < channels) {
        val s = pcm(c)(i)
        ibuf(2 * c) = (s & 0xff).toByte
        ibuf(2 * c + 1) = ((s >> 8) & 0xff).toByte
        c += 1
      }
      md.update(ibuf)
      i += 1
    }
    val bw = new BitWriter
    bw.writeBit(1) // is-last
    bw.writeBits(0, 7) // STREAMINFO
    bw.writeBits(34, 24)
    bw.writeBits(blockSize, 16)
    bw.writeBits(blockSize, 16)
    bw.writeBits(0, 24); bw.writeBits(0, 24)
    bw.writeBits(sampleRate, 20)
    bw.writeBits(channels - 1, 3)
    bw.writeBits(15, 5) // bits-1 = 15
    bw.writeBits(n.toLong, 36)
    for (b <- md.digest()) bw.writeBits(b & 0xff, 8)
    out.write(bw.toBytes)
    // frames
    var frameNo = 0L
    var at = 0
    while (at < n) {
      val len = math.min(blockSize, n - at)
      out.write(encodeFrame(pcm, at, len, frameNo, sampleRate, channels))
      at += len
      frameNo += 1
    }
    out.toByteArray
  }

  private def encodeFrame(pcm: Array[Array[Int]], at: Int, len: Int,
      frameNo: Long, sampleRate: Int, channels: Int): Array[Byte] = {
    val bw = new BitWriter
    bw.writeBits(0x3ffe, 14)
    bw.writeBit(0) // reserved
    bw.writeBit(0) // fixed blocksize
    // block size: always written explicitly (code 7 → 16-bit n-1) so the
    // final partial frame needs no special casing
    bw.writeBits(7, 4)
    val srCode = sampleRate match {
      case 8000 => 4
      case 16000 => 5
      case 22050 => 6
      case 24000 => 7
      case 32000 => 8
      case 44100 => 9
      case 48000 => 10
      case 96000 => 11
      case _ => 14 // 16-bit explicit in tens of Hz
    }
    bw.writeBits(srCode, 4)
    bw.writeBits(channels - 1, 4) // independent channels
    bw.writeBits(4, 3) // 16-bit
    bw.writeBit(0) // reserved
    writeUtf8Number(bw, frameNo)
    bw.writeBits(len - 1, 16)
    if (srCode == 14) bw.writeBits(sampleRate / 10, 16)
    bw.alignToByte()
    val header = bw.toBytes
    bw.writeBits(crc8(header, 0, header.length), 8)
    var ch = 0
    while (ch < channels) {
      encodeSubframe(bw, pcm(ch), at, len)
      ch += 1
    }
    bw.alignToByte()
    val body = bw.toBytes
    bw.writeBits(crc16(body, 0, body.length), 16)
    bw.toBytes
  }

  /** Best FIXED order 0–2 by summed |residual|, Rice param ≈
    * ceil(log2(mean|res|)) + 1, one partition.
    */
  private def encodeSubframe(bw: BitWriter, samples: Array[Int], at: Int,
      len: Int): Unit = {
    var bestOrder = 0
    var bestCost = Long.MaxValue
    var bestRes: Array[Int] = null
    var order = 0
    while (order <= math.min(2, len - 1)) {
      val res = new Array[Int](len - order)
      val coefs = FixedCoefs(order)
      var cost = 0L
      var i = order
      while (i < len) {
        var pred = 0L
        var k = 0
        while (k < order) { pred += coefs(k).toLong * samples(at + i - 1 - k); k += 1 }
        val r = (samples(at + i) - pred).toInt
        res(i - order) = r
        cost += math.abs(r.toLong)
        i += 1
      }
      if (cost < bestCost) { bestCost = cost; bestOrder = order; bestRes = res }
      order += 1
    }
    bw.writeBit(0) // padding
    bw.writeBits(8 + bestOrder, 6) // FIXED
    bw.writeBit(0) // no wasted bits
    var i = 0
    while (i < bestOrder) { bw.writeBits(samples(at + i).toLong & 0xffff, 16); i += 1 }
    // residual: method 0 (4-bit Rice), partition order 0
    val nRes = len - bestOrder
    val mean = if (nRes == 0) 0L else bestCost / math.max(1, nRes)
    var param = 0
    while (param < 14 && (1L << param) < mean) param += 1
    bw.writeBits(0, 2)
    bw.writeBits(0, 4)
    bw.writeBits(param, 4)
    i = 0
    while (i < nRes) {
      val r = bestRes(i)
      val u = if (r >= 0) r.toLong << 1 else ((-r.toLong) << 1) - 1
      bw.writeUnary((u >> param).toInt)
      if (param > 0) bw.writeBits(u & ((1L << param) - 1), param)
      i += 1
    }
  }
}
