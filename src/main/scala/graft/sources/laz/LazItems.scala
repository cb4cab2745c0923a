package graft.sources.laz

import ArithmeticDecoder.SymbolModel

/** LASzip per-item decoders (clean-room from the LAZ specification and
  * Isenburg's LASzip paper; verified bit-for-bit against the
  * reference's .laz fixtures vs their uncompressed .las ground truth).
  * Each item decodes into the point's RAW little-endian record bytes, so
  * downstream Row conversion reuses the golden-pinned
  * [[graft.sources.LasDecode.decodeRecord]]. */
object LazItems {

  def u8fold(n: Int): Int = if (n < 0) n + 256 else if (n > 255) n - 256 else n
  def u8clamp(n: Int): Int = if (n < 0) 0 else if (n > 255) 255 else n

  /** Streaming median-of-5 of the recent coordinate diffs (spec's
    * alternating low/high insertion). */
  final class StreamingMedian5 {
    val values = new Array[Int](5)
    private var high = true
    def add(v: Int): Unit = {
      if (high) {
        if (v < values(2)) {
          values(4) = values(3); values(3) = values(2)
          if (v < values(0)) { values(2) = values(1); values(1) = values(0); values(0) = v }
          else if (v < values(1)) { values(2) = values(1); values(1) = v }
          else values(2) = v
        } else {
          if (v < values(3)) { values(4) = values(3); values(3) = v }
          else values(4) = v
          high = false
        }
      } else {
        if (values(2) < v) {
          values(0) = values(1); values(1) = values(2)
          if (values(4) < v) { values(2) = values(3); values(3) = values(4); values(4) = v }
          else if (values(3) < v) { values(2) = values(3); values(3) = v }
          else values(2) = v
        } else {
          if (values(1) < v) { values(0) = values(1); values(1) = v }
          else values(0) = v
          high = true
        }
      }
    }
    def get: Int = values(2)
  }

  // spec constants: context index by (number of returns, return number)
  // and the |n - r| level used for the height prediction slot
  val NumberReturnMap: Array[Array[Int]] = Array(
    Array(15, 14, 13, 12, 11, 10, 9, 8),
    Array(14, 0, 1, 3, 6, 10, 10, 9),
    Array(13, 1, 2, 4, 7, 11, 11, 10),
    Array(12, 3, 4, 5, 8, 12, 12, 11),
    Array(11, 6, 7, 8, 9, 13, 13, 12),
    Array(10, 10, 11, 12, 13, 14, 14, 13),
    Array(9, 10, 11, 12, 13, 14, 15, 14),
    Array(8, 9, 10, 11, 12, 13, 14, 15))
  val NumberReturnLevel: Array[Array[Int]] = Array.tabulate(8, 8)((n, r) => math.abs(n - r))

  /** Mutable raw POINT10 fields (20-byte record). */
  final class Point10 {
    var x = 0; var y = 0; var z = 0
    var intensity = 0  // u16
    var bitByte = 0    // u8: return(3) | numret(3) | scandir(1) | edge(1)
    var classification = 0
    var scanAngleRank = 0 // u8-stored i8
    var userData = 0
    var psid = 0       // u16
    def setFrom(b: Array[Byte], off: Int): Unit = {
      def i32(o: Int) = (b(off + o) & 0xFF) | ((b(off + o + 1) & 0xFF) << 8) |
        ((b(off + o + 2) & 0xFF) << 16) | ((b(off + o + 3) & 0xFF) << 24)
      def u16(o: Int) = (b(off + o) & 0xFF) | ((b(off + o + 1) & 0xFF) << 8)
      x = i32(0); y = i32(4); z = i32(8)
      intensity = u16(12); bitByte = b(off + 14) & 0xFF
      classification = b(off + 15) & 0xFF; scanAngleRank = b(off + 16) & 0xFF
      userData = b(off + 17) & 0xFF; psid = u16(18)
    }
    def writeTo(b: Array[Byte], off: Int): Unit = {
      def i32(o: Int, v: Int): Unit = {
        b(off + o) = v.toByte; b(off + o + 1) = (v >> 8).toByte
        b(off + o + 2) = (v >> 16).toByte; b(off + o + 3) = (v >> 24).toByte
      }
      i32(0, x); i32(4, y); i32(8, z)
      b(off + 12) = intensity.toByte; b(off + 13) = (intensity >> 8).toByte
      b(off + 14) = bitByte.toByte; b(off + 15) = classification.toByte
      b(off + 16) = scanAngleRank.toByte; b(off + 17) = userData.toByte
      b(off + 18) = psid.toByte; b(off + 19) = (psid >> 8).toByte
    }
  }

  /** POINT10 item, spec version 2 (compressor 2 / chunked streams). */
  final class Point10V2(dec: ArithmeticDecoder) {
    private val last = new Point10
    private val lastXDiff = Array.fill(16)(new StreamingMedian5)
    private val lastYDiff = Array.fill(16)(new StreamingMedian5)
    private val lastIntensity = new Array[Int](16)
    private val lastHeight = new Array[Int](8)
    private val mChanged = new SymbolModel(64)
    private val icIntensity = new IntegerDecompressor(dec, 16, 4)
    private val mScanAngle = Array.fill(2)(new SymbolModel(256))
    private val icPsid = new IntegerDecompressor(dec, 16)
    private val mBitByte = new Array[SymbolModel](256)
    private val mClassification = new Array[SymbolModel](256)
    private val mUserData = new Array[SymbolModel](256)
    private val icDx = new IntegerDecompressor(dec, 32, 2)
    private val icDy = new IntegerDecompressor(dec, 32, 22)
    private val icZ = new IntegerDecompressor(dec, 32, 20)

    def init(raw: Array[Byte], off: Int): Unit = last.setFrom(raw, off)

    def read(out: Array[Byte], off: Int): Unit = {
      val changed = dec.decodeSymbol(mChanged)
      if (changed != 0) {
        if ((changed & 32) != 0) {
          if (mBitByte(last.bitByte) == null) mBitByte(last.bitByte) = new SymbolModel(256)
          last.bitByte = dec.decodeSymbol(mBitByte(last.bitByte))
        }
      }
      val r = last.bitByte & 7
      val n = (last.bitByte >> 3) & 7
      val m = NumberReturnMap(n)(r)
      val l = NumberReturnLevel(n)(r)
      if (changed != 0) {
        if ((changed & 16) != 0) {
          last.intensity = icIntensity.decompress(lastIntensity(m), if (m < 3) m else 3) & 0xFFFF
          lastIntensity(m) = last.intensity
        } else last.intensity = lastIntensity(m)
        if ((changed & 8) != 0) {
          if (mClassification(last.classification) == null)
            mClassification(last.classification) = new SymbolModel(256)
          last.classification = dec.decodeSymbol(mClassification(last.classification))
        }
        if ((changed & 4) != 0) {
          val f = (last.bitByte >> 6) & 1
          val sym = dec.decodeSymbol(mScanAngle(f))
          last.scanAngleRank = u8fold(sym + last.scanAngleRank)
        }
        if ((changed & 2) != 0) {
          if (mUserData(last.userData) == null) mUserData(last.userData) = new SymbolModel(256)
          last.userData = dec.decodeSymbol(mUserData(last.userData))
        }
        if ((changed & 1) != 0)
          last.psid = icPsid.decompress(last.psid) & 0xFFFF
      } else last.intensity = lastIntensity(m)

      // coordinates: median-predicted dx, then dy with dx's k in the
      // context, then height from the level slot with (kx+ky)/2
      val ctx1 = if (n == 1) 1 else 0
      val medianX = lastXDiff(m).get
      val diffX = icDx.decompress(medianX, ctx1)
      last.x += diffX
      lastXDiff(m).add(diffX)
      val kx = icDx.lastK
      val medianY = lastYDiff(m).get
      val diffY = icDy.decompress(medianY,
        ctx1 + (if (kx < 20) kx & 0xFE else 20))
      last.y += diffY
      lastYDiff(m).add(diffY)
      val kz = (kx + icDy.lastK) / 2
      last.z = icZ.decompress(lastHeight(l), ctx1 + (if (kz < 18) kz & 0xFE else 18))
      lastHeight(l) = last.z
      last.writeTo(out, off)
    }
  }

  object GpsConsts {
    val Multi = 500
    val MultiMinus = -10
    val MultiUnchanged = Multi - MultiMinus + 1 // 511
    val MultiCodeFull = Multi - MultiMinus + 2  // 512
    val MultiTotal = Multi - MultiMinus + 6     // 516
  }

  /** GPSTIME11 item, spec version 2: four rotating time frames, each
    * with a last 32-bit diff and multiplier models. Value-level (the
    * raw i64 bit pattern of the f64 time) so the POINT14 v3 layered
    * reader can reuse the identical algorithm on its gps layer. */
  final class GpsTime11V2(dec: ArithmeticDecoder) {
    import GpsConsts._
    private val mMulti = new SymbolModel(MultiTotal)
    private val m0Diff = new SymbolModel(6)
    private val icGps = new IntegerDecompressor(dec, 32, 9)
    private val lastGps = new Array[Long](4)
    private val lastDiff = new Array[Int](4)
    private val extremeCounter = new Array[Int](4)
    private var cur = 0

    def initValue(v: Long): Unit = lastGps(0) = v

    def init(raw: Array[Byte], off: Int): Unit = {
      var v = 0L
      var i = 7
      while (i >= 0) { v = (v << 8) | (raw(off + i) & 0xFF); i -= 1 }
      initValue(v)
    }

    private def readFull(): Unit = {
      val next = (cur + 1) & 3
      val high = icGps.decompress((lastGps(cur) >>> 32).toInt, 8)
      lastGps(next) = (high.toLong << 32) | dec.readBits(32)
      cur = next
      lastDiff(cur) = 0
      extremeCounter(cur) = 0
    }

    def readValue(): Long = {
      if (lastDiff(cur) == 0) {
        val multi = dec.decodeSymbol(m0Diff)
        if (multi == 1) { // difference fits in 32 bits
          lastDiff(cur) = icGps.decompress(0, 0)
          lastGps(cur) += lastDiff(cur)
          extremeCounter(cur) = 0
        } else if (multi == 2) readFull()
        else if (multi > 2) { // switch to another time frame
          cur = (cur + multi - 2) & 3
          return readValue()
        } // multi == 0: unchanged
      } else {
        val multi = dec.decodeSymbol(mMulti)
        if (multi == 1) {
          lastGps(cur) += icGps.decompress(lastDiff(cur), 1)
          extremeCounter(cur) = 0
        } else if (multi < MultiUnchanged) {
          var diff = 0
          if (multi == 0) {
            diff = icGps.decompress(0, 7)
            extremeCounter(cur) += 1
            if (extremeCounter(cur) > 3) { lastDiff(cur) = diff; extremeCounter(cur) = 0 }
          } else if (multi < Multi) {
            diff =
              if (multi < 10) icGps.decompress(multi * lastDiff(cur), 2)
              else icGps.decompress(multi * lastDiff(cur), 3)
          } else if (multi == Multi) {
            diff = icGps.decompress(Multi * lastDiff(cur), 4)
            extremeCounter(cur) += 1
            if (extremeCounter(cur) > 3) { lastDiff(cur) = diff; extremeCounter(cur) = 0 }
          } else {
            val neg = Multi - multi // -1 .. -10
            if (neg > MultiMinus) diff = icGps.decompress(neg * lastDiff(cur), 5)
            else {
              diff = icGps.decompress(MultiMinus * lastDiff(cur), 6)
              extremeCounter(cur) += 1
              if (extremeCounter(cur) > 3) { lastDiff(cur) = diff; extremeCounter(cur) = 0 }
            }
          }
          lastGps(cur) += diff
        } else if (multi == MultiCodeFull) readFull()
        else if (multi > MultiCodeFull) { // switch frames
          cur = (cur + multi - MultiCodeFull) & 3
          return readValue()
        } // multi == MultiUnchanged: same value again
      }
      lastGps(cur)
    }

    def read(out: Array[Byte], off: Int): Unit = {
      var v = readValue()
      var i = 0
      while (i < 8) { out(off + i) = (v & 0xFF).toByte; v >>>= 8; i += 1 }
    }
  }

  /** RGB12 item, spec version 2: per-byte change bits, green/blue
    * predicted from the red delta. */
  final class Rgb12V2(dec: ArithmeticDecoder) {
    private val mByteUsed = new SymbolModel(128)
    private val mDiff = Array.fill(6)(new SymbolModel(256))
    // package-visible: the RGB14 v3 layered reader seeds a fresh
    // scanner-channel context from another context's last color
    private[laz] var lastR = 0; private[laz] var lastG = 0; private[laz] var lastB = 0

    def seed(r: Int, g: Int, b: Int): Unit = { lastR = r; lastG = g; lastB = b }

    def init(raw: Array[Byte], off: Int): Unit = {
      def u16(o: Int) = (raw(off + o) & 0xFF) | ((raw(off + o + 1) & 0xFF) << 8)
      lastR = u16(0); lastG = u16(2); lastB = u16(4)
    }

    def read(out: Array[Byte], off: Int): Unit = {
      val sym = dec.decodeSymbol(mByteUsed)
      var r = 0; var g = 0; var b = 0
      if ((sym & 1) != 0) r = u8fold(dec.decodeSymbol(mDiff(0)) + (lastR & 255))
      else r = lastR & 255
      if ((sym & 2) != 0) r |= u8fold(dec.decodeSymbol(mDiff(1)) + (lastR >> 8)) << 8
      else r |= lastR & 0xFF00
      if ((sym & 64) != 0) {
        var diff = (r & 255) - (lastR & 255)
        if ((sym & 4) != 0) g = u8fold(dec.decodeSymbol(mDiff(2)) + u8clamp(diff + (lastG & 255)))
        else g = lastG & 255
        if ((sym & 16) != 0) {
          diff = (diff + ((g & 255) - (lastG & 255))) / 2
          b = u8fold(dec.decodeSymbol(mDiff(4)) + u8clamp(diff + (lastB & 255)))
        } else b = lastB & 255
        diff = (r >> 8) - (lastR >> 8)
        if ((sym & 8) != 0) g |= u8fold(dec.decodeSymbol(mDiff(3)) + u8clamp(diff + (lastG >> 8))) << 8
        else g |= lastG & 0xFF00
        if ((sym & 32) != 0) {
          diff = (diff + ((g >> 8) - (lastG >> 8))) / 2
          b |= u8fold(dec.decodeSymbol(mDiff(5)) + u8clamp(diff + (lastB >> 8))) << 8
        } else b |= lastB & 0xFF00
      } else { g = r; b = r }
      lastR = r; lastG = g; lastB = b
      out(off) = r.toByte; out(off + 1) = (r >> 8).toByte
      out(off + 2) = g.toByte; out(off + 3) = (g >> 8).toByte
      out(off + 4) = b.toByte; out(off + 5) = (b >> 8).toByte
    }
  }

  // ---- item versions 1 (compressor 1, the original point-wise coder) --

  /** POINT10 item, spec version 1: median-of-three diff prediction for
    * x/y, k-bit contexts chaining x -> y -> z. */
  final class Point10V1(dec: ArithmeticDecoder) {
    private val last = new Point10
    private val lastXDiff = new Array[Int](3)
    private val lastYDiff = new Array[Int](3)
    private var lastIncr = 0
    private val icDx = new IntegerDecompressor(dec, 32)
    private val icDy = new IntegerDecompressor(dec, 32, 20)
    private val icZ = new IntegerDecompressor(dec, 32, 20)
    private val icIntensity = new IntegerDecompressor(dec, 16)
    private val icScanAngle = new IntegerDecompressor(dec, 8, 2)
    private val icPsid = new IntegerDecompressor(dec, 16)
    private val mChanged = new SymbolModel(64)
    // per-last-value contexts, created lazily (fresh models are all
    // identical-initial, which is why a flat model decodes correctly
    // until its 131st symbol — the divergence that betrayed this)
    private val mBitByte = new Array[SymbolModel](256)
    private val mClassification = new Array[SymbolModel](256)
    private val mUserData = new Array[SymbolModel](256)

    def init(raw: Array[Byte], off: Int): Unit = last.setFrom(raw, off)

    private def median3(a: Array[Int]): Int = {
      val (x, y, z) = (a(0), a(1), a(2))
      if (x < y) { if (y < z) y else if (x < z) z else x }
      else { if (x < z) x else if (y < z) z else y }
    }

    def read(out: Array[Byte], off: Int): Unit = {
      val diffX = icDx.decompress(median3(lastXDiff))
      last.x += diffX
      var kBits = icDx.lastK
      val diffY = icDy.decompress(median3(lastYDiff), if (kBits < 19) kBits else 19)
      last.y += diffY
      kBits = (kBits + icDy.lastK) / 2
      last.z = icZ.decompress(last.z, if (kBits < 19) kBits else 19)
      val changed = dec.decodeSymbol(mChanged)
      if (changed != 0) {
        if ((changed & 32) != 0) last.intensity = icIntensity.decompress(last.intensity) & 0xFFFF
        if ((changed & 16) != 0) {
          if (mBitByte(last.bitByte) == null) mBitByte(last.bitByte) = new SymbolModel(256)
          last.bitByte = dec.decodeSymbol(mBitByte(last.bitByte))
        }
        if ((changed & 8) != 0) {
          if (mClassification(last.classification) == null)
            mClassification(last.classification) = new SymbolModel(256)
          last.classification = dec.decodeSymbol(mClassification(last.classification))
        }
        if ((changed & 4) != 0)
          last.scanAngleRank = icScanAngle.decompress(last.scanAngleRank,
            if (kBits < 3) 1 else 0) & 0xFF
        if ((changed & 2) != 0) {
          if (mUserData(last.userData) == null) mUserData(last.userData) = new SymbolModel(256)
          last.userData = dec.decodeSymbol(mUserData(last.userData))
        }
        if ((changed & 1) != 0) last.psid = icPsid.decompress(last.psid) & 0xFFFF
      }
      lastXDiff(lastIncr) = diffX
      lastYDiff(lastIncr) = diffY
      lastIncr += 1
      if (lastIncr > 2) lastIncr = 0
      last.writeTo(out, off)
    }
  }

  /** GPSTIME11 item, spec version 1: single time frame, 512-symbol
    * multiplier model, raw 64-bit fallback. */
  final class GpsTime11V1(dec: ArithmeticDecoder) {
    private val MultiMax = 512
    private val mMulti = new SymbolModel(MultiMax)
    private val m0Diff = new SymbolModel(3)
    private val icGps = new IntegerDecompressor(dec, 32, 6)
    private var lastGps = 0L
    private var lastDiff = 0
    private var extremeCounter = 0

    def init(raw: Array[Byte], off: Int): Unit = {
      var v = 0L
      var i = 7
      while (i >= 0) { v = (v << 8) | (raw(off + i) & 0xFF); i -= 1 }
      lastGps = v
    }

    def read(out: Array[Byte], off: Int): Unit = {
      if (lastDiff == 0) {
        val multi = dec.decodeSymbol(m0Diff)
        if (multi == 1) { // difference fits in 32 bits
          lastDiff = icGps.decompress(0, 0)
          lastGps += lastDiff
        } else if (multi == 2) { // raw 64-bit value
          lastGps = dec.readBits(32) | (dec.readBits(32) << 32)
        }
      } else {
        val multi = dec.decodeSymbol(mMulti)
        if (multi < MultiMax - 2) {
          var diff = 0
          if (multi == 1) {
            diff = icGps.decompress(lastDiff, 1)
            lastDiff = diff
            extremeCounter = 0
          } else if (multi == 0) {
            diff = icGps.decompress(0, 2)
            extremeCounter += 1
            if (extremeCounter > 3) { lastDiff = diff; extremeCounter = 0 }
          } else {
            diff =
              if (multi < 10) icGps.decompress(multi * lastDiff, 3)
              else if (multi < 50) icGps.decompress(multi * lastDiff, 4)
              else icGps.decompress(multi * lastDiff, 5)
            if (multi == MultiMax - 3) {
              extremeCounter += 1
              if (extremeCounter > 3) { lastDiff = diff; extremeCounter = 0 }
            }
          }
          lastGps += diff
        } else if (multi == MultiMax - 1) { // raw 64-bit value
          lastGps = dec.readBits(32) | (dec.readBits(32) << 32)
          lastDiff = 0
          extremeCounter = 0
        }
        // multi == MultiMax - 2: value unchanged
      }
      var v = lastGps
      var i = 0
      while (i < 8) { out(off + i) = (v & 0xFF).toByte; v >>>= 8; i += 1 }
    }
  }

  /** RGB12 item, spec version 1: per-byte change bits, each byte
    * predicted by its own last value through one 8-bit integer
    * decompressor with six contexts. */
  final class Rgb12V1(dec: ArithmeticDecoder) {
    private val mByteUsed = new SymbolModel(64)
    private val icRgb = new IntegerDecompressor(dec, 8, 6)
    private var lastR = 0; private var lastG = 0; private var lastB = 0

    def init(raw: Array[Byte], off: Int): Unit = {
      def u16(o: Int) = (raw(off + o) & 0xFF) | ((raw(off + o + 1) & 0xFF) << 8)
      lastR = u16(0); lastG = u16(2); lastB = u16(4)
    }

    def read(out: Array[Byte], off: Int): Unit = {
      val sym = dec.decodeSymbol(mByteUsed)
      var r = lastR; var g = lastG; var b = lastB
      if ((sym & 1) != 0) r = (r & 0xFF00) | (icRgb.decompress(lastR & 255, 0) & 0xFF)
      if ((sym & 2) != 0) r = (r & 0x00FF) | ((icRgb.decompress(lastR >> 8, 1) & 0xFF) << 8)
      if ((sym & 4) != 0) g = (g & 0xFF00) | (icRgb.decompress(lastG & 255, 2) & 0xFF)
      if ((sym & 8) != 0) g = (g & 0x00FF) | ((icRgb.decompress(lastG >> 8, 3) & 0xFF) << 8)
      if ((sym & 16) != 0) b = (b & 0xFF00) | (icRgb.decompress(lastB & 255, 4) & 0xFF)
      if ((sym & 32) != 0) b = (b & 0x00FF) | ((icRgb.decompress(lastB >> 8, 5) & 0xFF) << 8)
      lastR = r; lastG = g; lastB = b
      out(off) = r.toByte; out(off + 1) = (r >> 8).toByte
      out(off + 2) = g.toByte; out(off + 3) = (g >> 8).toByte
      out(off + 4) = b.toByte; out(off + 5) = (b >> 8).toByte
    }
  }

  /** Mutable wave-packet descriptor — the 29-byte tail of point formats
    * 4/5/9/10: u8 descriptor index | u64 byte offset to waveform data |
    * u32 packet size | f32 return-point location | f32 Xt | f32 Yt |
    * f32 Zt (floats carried as raw i32 bit patterns — the codec never
    * interprets them). */
  final class Wavepacket13 {
    var index = 0        // u8
    var offset = 0L      // u64
    var packetSize = 0   // u32 bits
    var retPoint = 0     // f32 bits
    var xt = 0; var yt = 0; var zt = 0 // f32 bits

    def copyFrom(o: Wavepacket13): Unit = {
      index = o.index; offset = o.offset; packetSize = o.packetSize
      retPoint = o.retPoint; xt = o.xt; yt = o.yt; zt = o.zt
    }

    def setFrom(b: Array[Byte], off: Int): Unit = {
      def i32(o: Int) = (b(off + o) & 0xFF) | ((b(off + o + 1) & 0xFF) << 8) |
        ((b(off + o + 2) & 0xFF) << 16) | ((b(off + o + 3) & 0xFF) << 24)
      index = b(off) & 0xFF
      var v = 0L; var i = 8
      while (i >= 1) { v = (v << 8) | (b(off + i) & 0xFF); i -= 1 }
      offset = v
      packetSize = i32(9); retPoint = i32(13)
      xt = i32(17); yt = i32(21); zt = i32(25)
    }

    def writeTo(b: Array[Byte], off: Int): Unit = {
      def i32(o: Int, v: Int): Unit = {
        b(off + o) = v.toByte; b(off + o + 1) = (v >> 8).toByte
        b(off + o + 2) = (v >> 16).toByte; b(off + o + 3) = (v >> 24).toByte
      }
      b(off) = index.toByte
      var v = offset; var i = 1
      while (i <= 8) { b(off + i) = (v & 0xFF).toByte; v >>>= 8; i += 1 }
      i32(9, packetSize); i32(13, retPoint)
      i32(17, xt); i32(21, yt); i32(25, zt)
    }
  }

  /** WAVEPACKET13 item, spec version 1 (the only wave-packet version
    * the point-wise AND chunked compressors define): descriptor index
    * through a 256-symbol model; the waveform offset through a 4-way
    * offset-kind symbol (unchanged / previous offset + previous size /
    * 32-bit diff / raw 64) whose model is CONTEXTED by the previous
    * point's offset-kind; packet size, return point and the Xt/Yt/Zt
    * parameter vector each predicted by their last value through
    * 32-bit integer decompressors. */
  final class Wavepacket13V1(dec: ArithmeticDecoder) {
    private val mIndex = new SymbolModel(256)
    private val mOffsetDiff = Array.fill(4)(new SymbolModel(4))
    private val icOffsetDiff = new IntegerDecompressor(dec, 32)
    private val icPacketSize = new IntegerDecompressor(dec, 32)
    private val icRetPoint = new IntegerDecompressor(dec, 32)
    private val icXyz = new IntegerDecompressor(dec, 32, 3)
    private[laz] val last = new Wavepacket13
    private var symLast = 0
    private var lastDiff32 = 0

    def init(raw: Array[Byte], off: Int): Unit = {
      last.setFrom(raw, off); symLast = 0; lastDiff32 = 0
    }

    /** Seed value state from another context's last descriptor (layered
      * scanner-channel contexts); models stay fresh. */
    def seed(w: Wavepacket13): Unit = {
      last.copyFrom(w); symLast = 0; lastDiff32 = 0
    }

    def read(out: Array[Byte], off: Int): Unit = {
      last.index = dec.decodeSymbol(mIndex)
      symLast = dec.decodeSymbol(mOffsetDiff(symLast))
      symLast match {
        case 0 => () // offset unchanged
        case 1 => last.offset += last.packetSize & 0xFFFFFFFFL // contiguous
        case 2 =>
          lastDiff32 = icOffsetDiff.decompress(lastDiff32)
          last.offset += lastDiff32
        case _ =>
          last.offset = dec.readBits(32) | (dec.readBits(32) << 32)
      }
      last.packetSize = icPacketSize.decompress(last.packetSize)
      last.retPoint = icRetPoint.decompress(last.retPoint)
      last.xt = icXyz.decompress(last.xt, 0)
      last.yt = icXyz.decompress(last.yt, 1)
      last.zt = icXyz.decompress(last.zt, 2)
      last.writeTo(out, off)
    }
  }

  /** BYTE item (extra-bytes payload), spec version 2: one 256-symbol
    * model per byte position coding the u8-folded diff from the previous
    * point's byte at the same position. */
  final class ByteV2(dec: ArithmeticDecoder, n: Int) {
    private val mByte = Array.fill(n)(new SymbolModel(256))
    private val last = new Array[Int](n)

    def init(raw: Array[Byte], off: Int): Unit = {
      var i = 0
      while (i < n) { last(i) = raw(off + i) & 0xFF; i += 1 }
    }

    def read(out: Array[Byte], off: Int): Unit = {
      var i = 0
      while (i < n) {
        last(i) = u8fold(dec.decodeSymbol(mByte(i)) + last(i))
        out(off + i) = last(i).toByte
        i += 1
      }
    }
  }

  /** BYTE item, spec version 1: each byte through one 8-bit integer
    * decompressor with a context per byte position. */
  final class ByteV1(dec: ArithmeticDecoder, n: Int) {
    private val icByte = new IntegerDecompressor(dec, 8, n)
    private val last = new Array[Int](n)

    def init(raw: Array[Byte], off: Int): Unit = {
      var i = 0
      while (i < n) { last(i) = raw(off + i) & 0xFF; i += 1 }
    }

    def read(out: Array[Byte], off: Int): Unit = {
      var i = 0
      while (i < n) {
        last(i) = icByte.decompress(last(i), i) & 0xFF
        out(off + i) = last(i).toByte
        i += 1
      }
    }
  }
}
