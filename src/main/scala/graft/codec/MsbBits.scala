package graft.codec

import java.io.ByteArrayOutputStream

/** MSB-first bit reader (bzip2, FLAC, ORC RLEv2) starting at byte
  * `start` of `b`. Like a [[Bytes]] read, reading past the end of `b`
  * throws `ArrayIndexOutOfBoundsException`. */
final class MsbBitReader(b: Array[Byte], start: Int = 0) {
  private var pos = start.toLong * 8 // bit position of the next bit

  /** The next `n` (0..64) bits as an unsigned number. */
  def bits(n: Int): Long = {
    var v = 0L
    var k = n
    while (k > 0) {
      val avail = 8 - (pos & 7).toInt
      val take = if (k < avail) k else avail
      val byte = b((pos >>> 3).toInt) & 0xff
      v = (v << take) | ((byte >>> (avail - take)) & ((1 << take) - 1))
      pos += take
      k -= take
    }
    v
  }

  def bit(): Int = {
    val v = (b((pos >>> 3).toInt) >>> (7 - (pos & 7).toInt)) & 1
    pos += 1
    v
  }

  def aligned: Boolean = (pos & 7) == 0

  /** Skip to the next byte boundary; the byte offset reached. */
  def align(): Int = { pos = (pos + 7) & ~7L; bytePos }

  /** Offset of the byte holding the next bit. */
  def bytePos: Int = (pos >>> 3).toInt
}

/** MSB-first bit writer onto `out`, the encode-side twin of
  * [[MsbBitReader]]. */
final class MsbBitWriter(out: ByteArrayOutputStream = new ByteArrayOutputStream(256)) {
  private var acc = 0
  private var nAcc = 0

  /** The low `n` (0..64) bits of `v`, most significant first. */
  def write(v: Long, n: Int): Unit = {
    var k = n - 1
    while (k >= 0) {
      acc = (acc << 1) | ((v >>> k) & 1L).toInt
      nAcc += 1
      if (nAcc == 8) { out.write(acc); acc = 0; nAcc = 0 }
      k -= 1
    }
  }

  /** Zero-pad to the next byte boundary. */
  def align(): Unit = if (nAcc > 0) write(0, 8 - nAcc)

  /** Align, then everything written so far. */
  def toByteArray: Array[Byte] = { align(); out.toByteArray }
}
