package graft.operators

import java.io.ByteArrayOutputStream

import graft.codec.Bytes

/** zstd frame DECODER (RFC 8878, no-dictionary) — pure JVM, from spec.
  *
  * Round 11 left the ingestion chain end-to-end for .warc.gz but
  * header-sniff-only for zstd (Compression.decodeZstdHeader / q254);
  * Common Crawl index files and most modern training shards ship
  * zstd-framed, so the decode gap is the one a 100 TB pipeline user
  * hits on day one. This closes it: full frame decode — raw / RLE /
  * compressed blocks, Huffman literals (direct AND FSE-compressed
  * weight descriptions, 1- and 4-stream), FSE sequence tables
  * (predefined / RLE / compressed / repeat modes), the three-slot
  * repeat-offset history with the literals_length==0 shift, treeless
  * literals reusing the previous block's table, skippable frames, and
  * XXH64-low-32 content-checksum verification.
  *
  * Referee posture (the gzip/lz4 pattern, strengthened): the fixture
  * emitter for queries is zstd-jni (`com.github.luben.zstd.Zstd`) —
  * the real reference implementation, already on every Spark
  * distribution's classpath (spark.io.compression.codec=zstd), so
  * fixtures are REAL compressor output exercising every entropy mode,
  * not a hand-rolled encoder that could share a spec misreading with
  * this decoder. The spec referees both directions: real-zstd frames
  * through this decoder, and [[zstdCompressStored]] frames (this
  * file's raw/RLE-block emitter) through real zstd. Corrupt input →
  * None, never a crash — one bad blob must not kill a corpus pass.
  *
  * Decode is a map-side per-cell operation: at cluster scale each
  * executor decodes its own blobs with zero shuffle, and
  * [[zstdFrames]] walks member-per-record concatenations (the
  * .warc.zst layout) exactly like Compression.gunzipMembers walks
  * .warc.gz.
  */
object ZstdCodec {

  /** Decoded-frame cap: declared or accumulated output beyond this is
    * treated as hostile (zip-bomb posture). 64 MiB — a single cell in
    * a DataFrame should never be bigger; real shards chunk below it. */
  val MaxFrameOut: Int = 1 << 26

  private val BlockMax = 1 << 17 // Block_Maximum_Size upper bound 128 KiB

  // ------------------------------------------------------------------
  // XXH64 (public spec, Cyan4973/xxHash) — zstd's content checksum is
  // the low 32 bits of XXH64(content, seed=0). Long modular arithmetic.
  // ------------------------------------------------------------------
  def xxh64(b: Array[Byte], off: Int, len: Int, seed: Long = 0L): Long = {
    val P1 = 0x9e3779b185ebca87L; val P2 = 0xc2b2ae3d27d4eb4fL
    val P3 = 0x165667b19e3779f9L; val P4 = 0x85ebca77c2b2ae63L
    val P5 = 0x27d4eb2f165667c5L
    def rotl(x: Long, r: Int): Long = (x << r) | (x >>> (64 - r))
    var i = off
    val end = off + len
    var h =
      if (len >= 32) {
        var v1 = seed + P1 + P2; var v2 = seed + P2
        var v3 = seed; var v4 = seed - P1
        while (i <= end - 32) {
          v1 = rotl(v1 + Bytes.u64le(b, i) * P2, 31) * P1
          v2 = rotl(v2 + Bytes.u64le(b, i + 8) * P2, 31) * P1
          v3 = rotl(v3 + Bytes.u64le(b, i + 16) * P2, 31) * P1
          v4 = rotl(v4 + Bytes.u64le(b, i + 24) * P2, 31) * P1
          i += 32
        }
        var acc = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
        def merge(v: Long): Unit = {
          acc = (acc ^ (rotl(v * P2, 31) * P1)) * P1 + P4
        }
        merge(v1); merge(v2); merge(v3); merge(v4)
        acc
      } else seed + P5
    h += len
    while (i <= end - 8) {
      h = rotl(h ^ (rotl(Bytes.u64le(b, i) * P2, 31) * P1), 27) * P1 + P4; i += 8
    }
    if (i <= end - 4) { h = rotl(h ^ (Bytes.u32le(b, i) * P1), 23) * P2 + P3; i += 4 }
    while (i < end) {
      h = rotl(h ^ ((b(i) & 0xffL) * P5), 11) * P1; i += 1
    }
    h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^= h >>> 32
    h
  }

  // ------------------------------------------------------------------
  // Bitstreams. FSE/Huffman payload streams are written forward but
  // READ BACKWARD from a 1-bit sentinel in the last byte (RFC 8878
  // §4.1); table DESCRIPTIONS are read forward LSB-first (§4.1.1).
  // Both allow zero-padded peeks past their boundary (needed at stream
  // edges); corrupt streams surface as a negative final cursor.
  // ------------------------------------------------------------------

  /** Decode failure — internal control flow only; every public entry
    * point catches it into None. */
  private final class Corrupt extends RuntimeException("corrupt zstd")
  private def fail(): Nothing = throw new Corrupt

  private final class BackBits(b: Array[Byte], from: Int, until: Int) {
    /** unread data bits (sentinel excluded); reads may drive it below
      * zero (zero-padded), which only the caller's end-check rejects */
    var pos: Int = {
      if (until <= from || until > b.length || from < 0) fail()
      val last = b(until - 1) & 0xff
      if (last == 0) fail() // sentinel byte must be non-zero
      (until - from - 1) * 8 + (31 - Integer.numberOfLeadingZeros(last))
    }
    private def bitAt(p: Int): Long =
      if (p < 0) 0L else ((b(from + (p >> 3)) >> (p & 7)) & 1).toLong
    def peek(n: Int): Int = {
      var v = 0L; var k = 0
      while (k < n) { v |= bitAt(pos - n + k) << k; k += 1 }
      v.toInt
    }
    def read(n: Int): Long = {
      var v = 0L; var k = 0
      while (k < n) { v |= bitAt(pos - n + k) << k; k += 1 }
      pos -= n
      v
    }
    def readInt(n: Int): Int = read(n).toInt
  }

  private final class FwdBits(b: Array[Byte], from: Int, until: Int) {
    var pos = 0 // bit cursor from `from`
    private def bitAt(p: Int): Int = {
      val byteIdx = from + (p >> 3)
      if (byteIdx >= until) 0 else (b(byteIdx) >> (p & 7)) & 1
    }
    def peek(n: Int): Int = {
      var v = 0; var k = 0
      while (k < n) { v |= bitAt(pos + k) << k; k += 1 }
      v
    }
    def skip(n: Int): Unit = pos += n
    def read(n: Int): Int = { val v = peek(n); pos += n; v }
    /** bytes consumed, cursor rounded up to the next byte boundary */
    def byteLen: Int = (pos + 7) >> 3
  }

  // ------------------------------------------------------------------
  // FSE (RFC 8878 §4.1): normalized-count reader, decode-table builder.
  // ------------------------------------------------------------------

  private[operators] final case class FseTable(sym: Array[Int],
      nb: Array[Int], base: Array[Int], al: Int)

  /** Read an FSE table description (forward bitstream): 4-bit
    * Accuracy_Log-5, then the shrinking-threshold normalized counts
    * with -1 low-prob symbols and 2-bit zero-run flags. */
  private def readNCount(f: FwdBits, maxAl: Int, maxSymbol: Int):
      (Array[Int], Int) = {
    val al = f.read(4) + 5
    if (al > maxAl) fail()
    val counts = new Array[Int](maxSymbol + 1)
    var remaining = (1 << al) + 1
    var threshold = 1 << al
    var nbBits = al + 1
    var charnum = 0
    var prev0 = false
    while (remaining > 1 && charnum <= maxSymbol) {
      if (prev0) {
        var n = f.read(2)
        charnum += n
        while (n == 3 && charnum <= maxSymbol) {
          n = f.read(2); charnum += n
        }
        prev0 = false
      } else {
        val max = 2 * threshold - 1 - remaining
        var count = f.peek(nbBits)
        if ((count & (threshold - 1)) < max) {
          f.skip(nbBits - 1)
          count &= threshold - 1
        } else {
          f.skip(nbBits)
          count &= 2 * threshold - 1
          if (count >= threshold) count -= max
        }
        count -= 1 // -1 encodes the "less than 1" probability
        remaining -= math.abs(count)
        counts(charnum) = count
        charnum += 1
        prev0 = count == 0
        while (remaining < threshold && remaining > 1) {
          nbBits -= 1; threshold >>= 1
        }
      }
    }
    if (remaining != 1 || charnum > maxSymbol + 1) fail()
    (counts, al)
  }

  /** Decode-table spread + per-cell (nbBits, baseline) assignment —
    * the spec's construction: low-prob (-1) symbols take the top
    * cells with a full Accuracy_Log reset, positive counts spread by
    * the (5/8·size + 3) step. */
  private def buildFse(counts: Array[Int], al: Int): FseTable = {
    val size = 1 << al
    val sym = new Array[Int](size)
    val nb = new Array[Int](size)
    val base = new Array[Int](size)
    var highThreshold = size - 1
    var s = 0
    while (s < counts.length) {
      if (counts(s) == -1) {
        if (highThreshold < 0) fail()
        sym(highThreshold) = s; highThreshold -= 1
      }
      s += 1
    }
    val step = (size >> 1) + (size >> 3) + 3
    var pos = 0
    s = 0
    while (s < counts.length) {
      var c = counts(s)
      while (c > 0) {
        sym(pos) = s
        pos = (pos + step) & (size - 1)
        while (pos > highThreshold) pos = (pos + step) & (size - 1)
        c -= 1
      }
      s += 1
    }
    if (pos != 0) fail() // every cell must be visited exactly once
    val next = counts.map(c => if (c == -1) 1 else c)
    var i = 0
    while (i < size) {
      val sy = sym(i)
      val ns = next(sy); next(sy) += 1
      if (ns <= 0) fail()
      val bits = al - (31 - Integer.numberOfLeadingZeros(ns))
      nb(i) = bits
      base(i) = (ns << bits) - size
      i += 1
    }
    FseTable(sym, nb, base, al)
  }

  /** 1-cell table for the RLE sequence mode: always `symbol`, 0 bits. */
  private def rleFse(symbol: Int, maxSymbol: Int): FseTable = {
    if (symbol > maxSymbol) fail()
    FseTable(Array(symbol), Array(0), Array(0), 0)
  }

  private def predef(dist: Array[Int], al: Int): FseTable =
    buildFse(dist, al)

  // Predefined distributions (RFC 8878 §3.1.1.3.2.2).
  private lazy val LlDefault = predef(Array(
    4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
    2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
    -1, -1, -1, -1), 6)
  private lazy val MlDefault = predef(Array(
    1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1,
    -1, -1, -1, -1, -1), 6)
  private lazy val OfDefault = predef(Array(
    1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1), 5)

  // Sequence-code baselines / extra bits (RFC 8878 §3.1.1.3.2.1.1).
  private val LlBase = Array(
    0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
    16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024,
    2048, 4096, 8192, 16384, 32768, 65536)
  private val LlBits = Array(
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
  private val MlBase = Array(
    3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18,
    19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34,
    35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027,
    2051, 4099, 8195, 16387, 32771, 65539)
  private val MlBits = Array(
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  // ------------------------------------------------------------------
  // Huffman (RFC 8878 §4.2): weight readers + canonical decode table.
  // ------------------------------------------------------------------

  private[operators] final case class HufTable(sym: Array[Int],
      nb: Array[Int], maxBits: Int)

  /** Huffman tree description at `off`: headerByte >= 128 → direct
    * 4-bit weights; < 128 → FSE-compressed weights (two interleaved
    * states over a backward bitstream, accuracy ≤ 6). Returns the
    * table and the description's byte length. */
  private def readHuffman(b: Array[Byte], off: Int, end: Int):
      (HufTable, Int) = {
    if (off >= end) fail()
    val hByte = b(off) & 0xff
    var weights: Array[Int] = null
    var descLen = 0
    if (hByte >= 128) {
      val listed = hByte - 127 // stored weights; one more is deduced
      val nBytes = (listed + 1) / 2
      if (off + 1 + nBytes > end) fail()
      weights = new Array[Int](listed)
      var i = 0
      while (i < listed) {
        val v = b(off + 1 + i / 2) & 0xff
        weights(i) = if (i % 2 == 0) v >> 4 else v & 0xf
        i += 1
      }
      descLen = 1 + nBytes
    } else {
      val compSize = hByte
      if (off + 1 + compSize > end) fail()
      val f = new FwdBits(b, off + 1, off + 1 + compSize)
      val (counts, al) = readNCount(f, 6, 255)
      val table = buildFse(counts, al)
      val bitsFrom = off + 1 + f.byteLen
      val back = new BackBits(b, bitsFrom, off + 1 + compSize)
      var s1 = back.readInt(al)
      var s2 = back.readInt(al)
      if (back.pos < 0) fail()
      val out = new scala.collection.mutable.ArrayBuffer[Int](64)
      // interleaved two-state decode; when a state update runs past
      // the stream start, the OTHER state flushes its symbol and ends
      var done = false
      while (!done) {
        if (out.size > 255) fail()
        out += table.sym(s1)
        val n1 = table.nb(s1)
        s1 = table.base(s1) + back.readInt(n1)
        if (back.pos < 0) { out += table.sym(s2); done = true }
        else {
          if (out.size > 255) fail()
          out += table.sym(s2)
          val n2 = table.nb(s2)
          s2 = table.base(s2) + back.readInt(n2)
          if (back.pos < 0) { out += table.sym(s1); done = true }
        }
      }
      weights = out.toArray
      descLen = 1 + compSize
    }
    // deduce the final weight: listed weights must sum (as 2^(w-1))
    // one power-of-2 short, the remainder being the last symbol's
    var sum = 0L
    var i = 0
    while (i < weights.length) {
      val w = weights(i)
      if (w > 11) fail()
      if (w > 0) sum += 1L << (w - 1)
      i += 1
    }
    if (sum == 0) fail()
    val maxBits = 64 - java.lang.Long.numberOfLeadingZeros(sum)
    if (maxBits > 11) fail()
    val leftOver = (1L << maxBits) - sum
    if (leftOver <= 0 || (leftOver & (leftOver - 1)) != 0) fail()
    val lastWeight = 64 - java.lang.Long.numberOfLeadingZeros(leftOver)
    val all = weights :+ lastWeight.toInt
    // canonical table: symbols in (weight asc, symbol asc) order each
    // occupy 2^(w-1) consecutive cells; code length = maxBits+1-w
    val size = 1 << maxBits
    val sym = new Array[Int](size)
    val nb = new Array[Int](size)
    var posFill = 0
    var w = 1
    while (w <= maxBits) {
      var s = 0
      while (s < all.length) {
        if (all(s) == w) {
          val run = 1 << (w - 1)
          if (posFill + run > size) fail()
          var k = 0
          while (k < run) {
            sym(posFill) = s; nb(posFill) = maxBits + 1 - w
            posFill += 1; k += 1
          }
        }
        s += 1
      }
      w += 1
    }
    if (posFill != size) fail()
    (HufTable(sym, nb, maxBits), descLen)
  }

  /** Decode `count` literals from one backward Huffman stream. The
    * stream must be consumed exactly (cursor 0 at the end). */
  private def hufDecodeStream(b: Array[Byte], from: Int, until: Int,
      table: HufTable, count: Int, out: Array[Byte], outOff: Int): Unit = {
    val back = new BackBits(b, from, until)
    var i = 0
    while (i < count) {
      val idx = back.peek(table.maxBits)
      out(outOff + i) = table.sym(idx).toByte
      back.pos -= table.nb(idx)
      if (back.pos < 0) fail()
      i += 1
    }
    if (back.pos != 0) fail()
  }

  // ------------------------------------------------------------------
  // Block decode
  // ------------------------------------------------------------------

  /** Entropy state carried ACROSS blocks within one frame: the last
    * Huffman table (treeless literals) and the last LL/OF/ML tables
    * (Repeat sequence mode). A structured DICTIONARY preloads all
    * four plus the repeat-offset history (RFC 8878 §5), which is what
    * makes treeless/Repeat modes legal in a frame's FIRST block. */
  private final class FrameState(dict: Option[ZstdDict]) {
    var huf: HufTable = dict.map(_.huf).orNull
    var ll: FseTable = dict.map(_.ll).orNull
    var of: FseTable = dict.map(_.of).orNull
    var ml: FseTable = dict.map(_.ml).orNull
    val rep: Array[Long] =
      dict.map(_.rep.clone()).getOrElse(Array(1L, 4L, 8L))
  }

  /** Growable output with random access (sequence matches read back).
    * `base` bytes of dictionary CONTENT preload the buffer so matches
    * reach into them naturally; the frame's produced output is
    * [base, len) and the size cap counts produced bytes only. */
  private final class Out(hint: Int, prefix: Array[Byte]) {
    val base: Int = if (prefix == null) 0 else prefix.length
    var buf = new Array[Byte](math.max(math.max(64, base + 64),
      math.min(base + hint, base + MaxFrameOut)))
    var len = 0
    if (base > 0) { System.arraycopy(prefix, 0, buf, 0, base); len = base }
    def produced: Int = len - base
    private def ensure(extra: Int): Unit = {
      if (len + extra - base > MaxFrameOut) fail()
      if (len + extra > buf.length) {
        var cap = buf.length * 2
        while (cap < len + extra) cap *= 2
        buf = java.util.Arrays.copyOf(buf,
          math.min(cap, base + MaxFrameOut))
      }
    }
    def append(src: Array[Byte], off: Int, n: Int): Unit = {
      ensure(n); System.arraycopy(src, off, buf, len, n); len += n
    }
    def fill(v: Byte, n: Int): Unit = {
      ensure(n); java.util.Arrays.fill(buf, len, len + n, v); len += n
    }
    /** overlapping-safe match copy from `len - offset` */
    def copyMatch(offset: Int, n: Int): Unit = {
      if (offset <= 0 || offset > len) fail()
      ensure(n)
      var src = len - offset
      var k = 0
      while (k < n) { buf(len + k) = buf(src + k); k += 1 }
      len += n
    }
    def result: Array[Byte] = java.util.Arrays.copyOfRange(buf, base, len)
  }

  /** Literals section of a compressed block: returns (literals,
    * bytesConsumed). */
  private def decodeLiterals(b: Array[Byte], off: Int, end: Int,
      st: FrameState): (Array[Byte], Int) = {
    if (off >= end) fail()
    val b0 = b(off) & 0xff
    val litType = b0 & 3
    val sizeFormat = (b0 >> 2) & 3
    litType match {
      case 0 | 1 => // Raw | RLE
        val (regen, hdr) = sizeFormat match {
          case 0 | 2 => (b0 >> 3, 1)
          case 1 =>
            if (off + 2 > end) fail()
            ((b0 >> 4) | ((b(off + 1) & 0xff) << 4), 2)
          case _ =>
            if (off + 3 > end) fail()
            ((b0 >> 4) | ((b(off + 1) & 0xff) << 4) |
              ((b(off + 2) & 0xff) << 12), 3)
        }
        if (regen > BlockMax) fail()
        if (litType == 0) {
          if (off + hdr + regen > end) fail()
          val lit = java.util.Arrays.copyOfRange(b, off + hdr,
            off + hdr + regen)
          (lit, hdr + regen)
        } else {
          if (off + hdr + 1 > end) fail()
          val lit = new Array[Byte](regen)
          java.util.Arrays.fill(lit, b(off + hdr))
          (lit, hdr + 1)
        }
      case _ => // Compressed | Treeless
        val (bits, streams, hdrLen) = sizeFormat match {
          case 0 => (10, 1, 3)
          case 1 => (10, 4, 3)
          case 2 => (14, 4, 4)
          case _ => (18, 4, 5)
        }
        if (off + hdrLen > end) fail()
        var h = 0L
        var k = 0
        while (k < hdrLen) { h |= (b(off + k) & 0xffL) << (8 * k); k += 1 }
        val regen = ((h >> 4) & ((1L << bits) - 1)).toInt
        val comp = ((h >> (4 + bits)) & ((1L << bits) - 1)).toInt
        if (regen > BlockMax) fail()
        if (off + hdrLen + comp > end) fail()
        var streamOff = off + hdrLen
        var streamEnd = streamOff + comp
        val table =
          if (litType == 2) {
            val (t, descLen) = readHuffman(b, streamOff, streamEnd)
            st.huf = t
            streamOff += descLen
            t
          } else {
            if (st.huf == null) fail() // treeless needs a prior table
            st.huf
          }
        val lit = new Array[Byte](regen)
        if (streams == 1) {
          hufDecodeStream(b, streamOff, streamEnd, table, regen, lit, 0)
        } else {
          if (streamEnd - streamOff < 6) fail()
          val s1 = Bytes.u16le(b, streamOff); val s2 = Bytes.u16le(b, streamOff + 2)
          val s3 = Bytes.u16le(b, streamOff + 4)
          val dataOff = streamOff + 6
          val total = streamEnd - dataOff
          val s4 = total - s1 - s2 - s3
          if (s4 <= 0) fail()
          val quarter = (regen + 3) / 4
          val last = regen - 3 * quarter
          if (last < 0) fail()
          val offs = Array(dataOff, dataOff + s1, dataOff + s1 + s2,
            dataOff + s1 + s2 + s3)
          val lens = Array(s1, s2, s3, s4)
          val counts = Array(quarter, quarter, quarter, last)
          var si = 0
          while (si < 4) {
            hufDecodeStream(b, offs(si), offs(si) + lens(si), table,
              counts(si), lit, quarter * si)
            si += 1
          }
        }
        (lit, hdrLen + comp)
    }
  }

  /** One sequence-table slot: mode byte dictates predefined / RLE /
    * FSE-compressed / repeat. Returns (table, bytesConsumed). */
  private def seqTable(b: Array[Byte], off: Int, end: Int, mode: Int,
      default: FseTable, prev: FseTable, maxAl: Int, maxSymbol: Int):
      (FseTable, Int) = mode match {
    case 0 => (default, 0)
    case 1 =>
      if (off >= end) fail()
      (rleFse(b(off) & 0xff, maxSymbol), 1)
    case 2 =>
      val f = new FwdBits(b, off, end)
      val (counts, al) = readNCount(f, maxAl, maxSymbol)
      if (off + f.byteLen > end) fail()
      (buildFse(counts, al), f.byteLen)
    case _ =>
      if (prev == null) fail() // repeat with no prior table
      (prev, 0)
  }

  /** Decode one compressed block's content into `out`. */
  private def decodeCompressedBlock(b: Array[Byte], off0: Int, end: Int,
      st: FrameState, out: Out): Unit = {
    val (lit, litLen) = decodeLiterals(b, off0, end, st)
    var off = off0 + litLen
    if (off >= end) fail()
    // sequence count: 1-3 byte varint per spec
    val s0 = b(off) & 0xff
    var numSeq = 0
    if (s0 < 128) { numSeq = s0; off += 1 }
    else if (s0 < 255) {
      if (off + 2 > end) fail()
      numSeq = ((s0 - 0x80) << 8) | (b(off + 1) & 0xff); off += 2
    } else {
      if (off + 3 > end) fail()
      numSeq = (b(off + 1) & 0xff) | ((b(off + 2) & 0xff) << 8) | 0x7f00
      off += 3
    }
    if (numSeq == 0) {
      if (off != end) fail() // nothing may follow an empty section
      out.append(lit, 0, lit.length)
      return
    }
    if (off >= end) fail()
    val modes = b(off) & 0xff
    if ((modes & 3) != 0) fail() // reserved bits
    off += 1
    val (llT, llC) = seqTable(b, off, end, (modes >> 6) & 3, LlDefault,
      st.ll, 9, 35)
    off += llC
    val (ofT, ofC) = seqTable(b, off, end, (modes >> 4) & 3, OfDefault,
      st.of, 8, 31)
    off += ofC
    val (mlT, mlC) = seqTable(b, off, end, (modes >> 2) & 3, MlDefault,
      st.ml, 9, 52)
    off += mlC
    st.ll = llT; st.of = ofT; st.ml = mlT
    // the remaining bytes are the backward interleaved bitstream:
    // init states LL, OF, ML; per sequence read OF/ML/LL extra bits;
    // state updates LL, ML, OF for all but the last sequence
    val back = new BackBits(b, off, end)
    var llS = back.readInt(llT.al)
    var ofS = back.readInt(ofT.al)
    var mlS = back.readInt(mlT.al)
    if (back.pos < 0) fail()
    var litPos = 0
    var i = 0
    while (i < numSeq) {
      val ofCode = ofT.sym(ofS)
      val llCode = llT.sym(llS)
      val mlCode = mlT.sym(mlS)
      if (ofCode > 31 || llCode > 35 || mlCode > 52) fail()
      val offsetVal = (1L << ofCode) + back.read(ofCode)
      val ml = MlBase(mlCode) + back.readInt(MlBits(mlCode))
      val ll = LlBase(llCode) + back.readInt(LlBits(llCode))
      if (back.pos < 0) fail()
      // repeat-offset history (the ll==0 index shift is load-bearing)
      val rep = st.rep
      var offset = 0L
      if (offsetVal > 3) {
        offset = offsetVal - 3
        rep(2) = rep(1); rep(1) = rep(0); rep(0) = offset
      } else {
        val idx = (offsetVal.toInt + (if (ll == 0) 1 else 0)) match {
          case v if v <= 3 => v
          case _ => 4
        }
        idx match {
          case 1 => offset = rep(0)
          case 2 =>
            offset = rep(1); rep(1) = rep(0); rep(0) = offset
          case 3 =>
            offset = rep(2); rep(2) = rep(1); rep(1) = rep(0)
            rep(0) = offset
          case _ => // ll==0 && offsetVal==3 → rep0 - 1
            offset = rep(0) - 1
            if (offset <= 0) fail()
            rep(2) = rep(1); rep(1) = rep(0); rep(0) = offset
        }
      }
      if (ll > 0) {
        if (litPos + ll > lit.length) fail()
        out.append(lit, litPos, ll)
        litPos += ll
      }
      if (offset > Int.MaxValue) fail()
      out.copyMatch(offset.toInt, ml)
      if (i != numSeq - 1) {
        llS = llT.base(llS) + back.readInt(llT.nb(llS))
        mlS = mlT.base(mlS) + back.readInt(mlT.nb(mlS))
        ofS = ofT.base(ofS) + back.readInt(ofT.nb(ofS))
        if (back.pos < 0) fail()
      }
      i += 1
    }
    if (back.pos != 0) fail() // bitstream must be exactly consumed
    if (litPos < lit.length) out.append(lit, litPos, lit.length - litPos)
  }

  // ------------------------------------------------------------------
  // Frame decode
  // ------------------------------------------------------------------

  /** Frame-header fields plus the offset where blocks start. Reuses
    * the q254 sniff's field semantics (Compression.decodeZstdHeader)
    * but reports the header length, which the sniff never needed. */
  private def parseFrameHeader(b: Array[Byte], off0: Int,
      allowDictId: Boolean = false): (Compression.ZstdMeta, Int) = {
    if (off0 + 6 > b.length) fail()
    if ((b(off0) & 0xff) != 0x28 || (b(off0 + 1) & 0xff) != 0xb5 ||
      (b(off0 + 2) & 0xff) != 0x2f || (b(off0 + 3) & 0xff) != 0xfd) fail()
    val fhd = b(off0 + 4) & 0xff
    if ((fhd & 0x08) != 0) fail()
    val fcsFlag = (fhd >> 6) & 3
    val singleSegment = (fhd & 0x20) != 0
    val checksum = (fhd & 0x04) != 0
    val didFlag = fhd & 3
    var off = off0 + 5
    var windowSize: Option[Long] = None
    if (!singleSegment) {
      if (off >= b.length) fail()
      val wd = b(off) & 0xff
      val base = 1L << (10 + (wd >> 3))
      windowSize = Some(base + (base / 8) * (wd & 7))
      off += 1
    }
    val didLen = didFlag match { case 0 => 0; case 1 => 1; case 2 => 2
      case _ => 4 }
    if (off + didLen > b.length) fail()
    var dictId = 0L
    var i = 0
    while (i < didLen) {
      dictId |= (b(off + i) & 0xffL) << (8 * i); i += 1
    }
    // a declared dictionary id is only decodable when the caller
    // supplied a structured dictionary (the id match happens there)
    if (dictId != 0 && !allowDictId) fail()
    off += didLen
    val fcsLen = fcsFlag match {
      case 0 => if (singleSegment) 1 else 0
      case 1 => 2; case 2 => 4; case _ => 8
    }
    if (off + fcsLen > b.length) fail()
    val contentSize =
      if (fcsLen == 0) None
      else {
        var v = 0L
        var j = 0
        while (j < fcsLen) { v |= (b(off + j) & 0xffL) << (8 * j); j += 1 }
        Some(if (fcsLen == 2) v + 256 else v)
      }
    off += fcsLen
    if (singleSegment) windowSize = contentSize
    (Compression.ZstdMeta(windowSize, dictId, contentSize, checksum), off)
  }

  /** Decode ONE frame starting at `off`: the verified content and the
    * offset just past the frame. Skippable frames (magic 184D2A5x)
    * yield empty content and hop their declared length. None on any
    * structural error, overrun, or checksum mismatch. A provided
    * `dict` preloads entropy tables, repeat offsets, and the content
    * window (RFC 8878 §5); a frame DECLARING a dictionary id requires
    * a structured dict with that id. */
  def decodeFrameAt(b: Array[Byte], off0: Int,
      dict: Option[ZstdDict] = None): Option[(Array[Byte], Int)] = {
    if (b == null || off0 < 0 || off0 + 8 > b.length) return None
    try {
      val magic = Bytes.u32le(b, off0)
      if ((magic & 0xfffffff0L) == 0x184d2a50L) { // skippable frame
        var sz = 0L
        var i = 0
        while (i < 4) { sz |= (b(off0 + 4 + i) & 0xffL) << (8 * i); i += 1 }
        val next = off0 + 8 + sz
        if (next > b.length) return None
        return Some((Array.emptyByteArray, next.toInt))
      }
      val (meta, blocksOff) = parseFrameHeader(b, off0,
        allowDictId = dict.exists(_.structured))
      if (meta.dictId != 0 &&
        !dict.exists(d => d.structured && d.dictId == meta.dictId)) fail()
      meta.contentSize.foreach(cs => if (cs > MaxFrameOut) fail())
      val blockCap = math.min(
        meta.windowSize.getOrElse(BlockMax.toLong), BlockMax.toLong).toInt
      val st = new FrameState(dict.filter(_.structured))
      val out = new Out(meta.contentSize.map(_.toInt).getOrElse(8192),
        dict.map(_.content).orNull)
      var off = blocksOff
      var last = false
      while (!last) {
        if (off + 3 > b.length) fail()
        val hdr = Bytes.u24le(b, off)
        last = (hdr & 1) != 0
        val btype = (hdr >> 1) & 3
        val bsize = hdr >> 3
        off += 3
        btype match {
          case 0 => // raw
            if (bsize > blockCap || off + bsize > b.length) fail()
            out.append(b, off, bsize)
            off += bsize
          case 1 => // RLE: content is ONE byte repeated bsize times
            if (bsize > blockCap || off + 1 > b.length) fail()
            out.fill(b(off), bsize)
            off += 1
          case 2 =>
            if (off + bsize > b.length) fail()
            val before = out.len
            decodeCompressedBlock(b, off, off + bsize, st, out)
            if (out.len - before > blockCap) fail()
            off += bsize
          case _ => fail() // reserved block type
        }
      }
      meta.contentSize.foreach(cs => if (cs != out.produced.toLong) fail())
      if (meta.checksum) {
        if (off + 4 > b.length) fail()
        val want = Bytes.u32le(b, off)
        val got = xxh64(out.buf, out.base, out.produced) & 0xffffffffL
        if (want != got) fail()
        off += 4
      }
      Some((out.result, off))
    } catch {
      case _: Corrupt => None
      case _: IndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
  }

  /** Parsed zstd dictionary — opaque wrapper over the preloaded
    * entropy tables, repeat offsets, and content window. `structured`
    * dicts carry the 0xEC30A437 magic + tables; raw-content dicts are
    * window-prefix only (both are real zstd semantics). */
  final class ZstdDict private[ZstdCodec] (
      val dictId: Long,
      val structured: Boolean,
      private[operators] val huf: HufTable,
      private[operators] val ll: FseTable,
      private[operators] val of: FseTable,
      private[operators] val ml: FseTable,
      private[operators] val rep: Array[Long],
      private[operators] val content: Array[Byte])

  /** Parse a dictionary blob (RFC 8878 §5): magic 0xEC30A437 LE +
    * dictionary id + entropy tables (Huffman for literals, then FSE
    * for Offsets, Match_Lengths, Literals_Lengths) + three u32
    * repeat offsets + content. A blob WITHOUT the magic is a
    * raw-content dictionary (window prefix only). None only for a
    * structurally torn STRUCTURED dict. */
  def parseDict(b: Array[Byte]): Option[ZstdDict] = {
    if (b == null || b.length == 0) return None
    val magic = if (b.length >= 4) Bytes.u32le(b, 0) else 0L
    if (magic != 0xec30a437L)
      return Some(new ZstdDict(0L, false, null, null, null, null,
        Array(1L, 4L, 8L), b.clone()))
    try {
      if (b.length < 8) fail()
      var dictId = 0L
      var i = 0
      while (i < 4) { dictId |= (b(4 + i) & 0xffL) << (8 * i); i += 1 }
      var off = 8
      val (huf, hufLen) = readHuffman(b, off, b.length)
      off += hufLen
      def fse(maxAl: Int, maxSym: Int): FseTable = {
        val f = new FwdBits(b, off, b.length)
        val (counts, al) = readNCount(f, maxAl, maxSym)
        off += f.byteLen
        if (off > b.length) fail()
        buildFse(counts, al)
      }
      val of = fse(8, 31)
      val ml = fse(9, 52)
      val ll = fse(9, 35)
      if (off + 12 > b.length) fail()
      val rep = new Array[Long](3)
      var r = 0
      while (r < 3) {
        var v = 0L
        var k = 0
        while (k < 4) { v |= (b(off + k) & 0xffL) << (8 * k); k += 1 }
        if (v == 0) fail() // a zero repeat offset can never be used
        rep(r) = v; off += 4; r += 1
      }
      val content = java.util.Arrays.copyOfRange(b, off, b.length)
      Some(new ZstdDict(dictId, true, huf, ll, of, ml, rep, content))
    } catch {
      case _: Corrupt => None
      case _: IndexOutOfBoundsException => None
    }
  }

  /** The .warc.zst convention: the file's FIRST frame is a skippable
    * frame carrying the dictionary the remaining frames were
    * compressed with. Returns the parsed dict when frame 0 is
    * skippable and parses; None otherwise. */
  def dictFromSkippable(b: Array[Byte]): Option[ZstdDict] = {
    if (b == null || b.length < 8 || !isSkippable(b, 0)) return None
    var sz = 0L
    var i = 0
    while (i < 4) { sz |= (b(4 + i) & 0xffL) << (8 * i); i += 1 }
    if (8 + sz > b.length) return None
    parseDict(java.util.Arrays.copyOfRange(b, 8, (8 + sz).toInt))
  }

  /** REAL single-payload decode: exactly one frame spanning the whole
    * buffer (trailing garbage = not one clean frame). */
  def zstdDecompress(b: Array[Byte]): Option[Array[Byte]] =
    decodeFrameAt(b, 0).collect {
      case (data, next) if next == b.length => data
    }

  /** Dictionary-assisted single-payload decode. */
  def zstdDecompress(b: Array[Byte],
      dict: Option[ZstdDict]): Option[Array[Byte]] =
    decodeFrameAt(b, 0, dict).collect {
      case (data, next) if next == b.length => data
    }

  /** Decode a CONCATENATION of zstd frames — the .warc.zst layout
    * (one frame per record, frames back to back, skippable frames
    * hopped). Each frame independently verified; a torn tail ends the
    * walk with the good prefix. Skippable frames contribute nothing. */
  def zstdFrames(b: Array[Byte]): Vector[Array[Byte]] =
    zstdFrames(b, None)

  /** Frame walk with a dictionary applied to every content frame —
    * pass [[dictFromSkippable]]'s result for the .warc.zst layout
    * (the dict-carrying skippable frame itself is hopped like any
    * other skippable). */
  def zstdFrames(b: Array[Byte],
      dict: Option[ZstdDict]): Vector[Array[Byte]] = {
    if (b == null) return Vector.empty
    val out = Vector.newBuilder[Array[Byte]]
    var off = 0
    var ok = true
    while (ok && off < b.length) {
      val skippable = isSkippable(b, off)
      decodeFrameAt(b, off, dict) match {
        case Some((data, next)) if next > off =>
          if (!skippable) out += data
          off = next
        case _ => ok = false
      }
    }
    out.result()
  }

  private def isSkippable(b: Array[Byte], off: Int): Boolean =
    off + 4 <= b.length && {
      val m = Bytes.u32le(b, off)
      (m & 0xfffffff0L) == 0x184d2a50L
    }

  // ------------------------------------------------------------------
  // Stored-mode emitter: a spec-valid zstd COMPRESSOR restricted to
  // raw/RLE blocks (the "stored" strategy every format allows). Real
  // zstd decodes its frames byte-identically (ZstdSpec referees this
  // direction); the full-entropy fixture direction uses zstd-jni.
  // ------------------------------------------------------------------

  /** Emit one spec-valid frame holding `data` in raw blocks (RLE
    * blocks where a block is one repeated byte), with the declared
    * content size and an XXH64-low-32 content checksum. */
  def zstdCompressStored(data: Array[Byte],
      checksum: Boolean = true): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + 32)
    out.write(0x28); out.write(0xb5); out.write(0x2f); out.write(0xfd)
    // single-segment (no window descriptor), FCS by size, checksum flag
    val fcsFlag =
      if (data.length < 256) 0
      else if (data.length < 65536 + 256) 1
      else 2
    out.write((fcsFlag << 6) | 0x20 | (if (checksum) 0x04 else 0))
    val fcsLen = fcsFlag match { case 0 => 1; case 1 => 2; case _ => 4 }
    val enc = if (fcsFlag == 1) data.length - 256 else data.length
    var j = 0
    while (j < fcsLen) { out.write((enc >> (8 * j)) & 0xff); j += 1 }
    var off = 0
    if (data.length == 0) {
      out.write(1); out.write(0); out.write(0) // last empty raw block
    }
    while (off < data.length) {
      val n = math.min(BlockMax, data.length - off)
      val lastBlock = off + n == data.length
      var rle = n >= 2
      var k = 1
      while (rle && k < n) { rle = data(off + k) == data(off); k += 1 }
      val btype = if (rle) 1 else 0
      val hdr = (if (lastBlock) 1 else 0) | (btype << 1) | (n << 3)
      out.write(hdr & 0xff); out.write((hdr >> 8) & 0xff)
      out.write((hdr >> 16) & 0xff)
      if (rle) out.write(data(off))
      else out.write(data, off, n)
      off += n
    }
    if (checksum) {
      val h = xxh64(data, 0, data.length) & 0xffffffffL
      var i = 0
      while (i < 4) { out.write(((h >> (8 * i)) & 0xff).toInt); i += 1 }
    }
    out.toByteArray
  }

  /** Emit a skippable frame (magic 0x184D2A50) wrapping `payload` —
    * the layout shard indexes ride in. */
  def zstdSkippableFrame(payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(payload.length + 8)
    out.write(0x50); out.write(0x2a); out.write(0x4d); out.write(0x18)
    var i = 0
    while (i < 4) { out.write((payload.length >> (8 * i)) & 0xff); i += 1 }
    out.write(payload, 0, payload.length)
    out.toByteArray
  }
}
