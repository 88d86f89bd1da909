package graft.codec

import java.io.ByteArrayOutputStream

/** Fixed-width integers, LEB128 varints and CRC-32 over byte arrays —
  * the byte plumbing every from-spec decoder and fixture encoder shares.
  *
  * Reads take an offset into an `Array[Byte]` and do no bounds check of
  * their own: a read past either end throws the JVM's
  * `ArrayIndexOutOfBoundsException`, which every decoder's total
  * `catch` already covers. Unsigned 32-bit reads return `Long` so the
  * top bit never sign-extends; the `i`-prefixed reads are two's
  * complement. Writes append to a `ByteArrayOutputStream` (`le32`, ...)
  * or store into an array at an offset (`putLe32`, ...).
  */
object Bytes {

  // ---- reads ----------------------------------------------------------

  def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff

  def u16le(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  def u16be(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  def i16le(b: Array[Byte], i: Int): Int = u16le(b, i).toShort.toInt

  def u24le(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16)
  def u24be(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 16) | ((b(i + 1) & 0xff) << 8) | (b(i + 2) & 0xff)

  def i32le(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) |
      ((b(i + 3) & 0xff) << 24)
  def i32be(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  def u32le(b: Array[Byte], i: Int): Long = i32le(b, i) & 0xffffffffL
  def u32be(b: Array[Byte], i: Int): Long = i32be(b, i) & 0xffffffffL

  /** 64-bit reads; "unsigned" values above `Long.MaxValue` come back
    * negative, as every caller that range-checks them expects. */
  def u64le(b: Array[Byte], i: Int): Long = u32le(b, i) | (u32le(b, i + 4) << 32)
  def u64be(b: Array[Byte], i: Int): Long = (u32be(b, i) << 32) | u32be(b, i + 4)

  /** Reads at a Long offset, for formats whose offsets are themselves
    * u32/u64 fields (TIFF IFDs, ISO-BMFF boxes). An offset past Int
    * range is past the end, not wrapped back into range. */
  def u16be(b: Array[Byte], i: Long): Int = u16be(b, index(i))
  def u32be(b: Array[Byte], i: Long): Long = u32be(b, index(i))
  def u64be(b: Array[Byte], i: Long): Long = u64be(b, index(i))

  /** Reads in the byte order the file declares (TIFF's II/MM marks). */
  def u16(b: Array[Byte], i: Long, bigEndian: Boolean): Int =
    if (bigEndian) u16be(b, index(i)) else u16le(b, index(i))
  def u32(b: Array[Byte], i: Long, bigEndian: Boolean): Long =
    if (bigEndian) u32be(b, index(i)) else u32le(b, index(i))

  private def index(i: Long): Int =
    if (i.toInt == i) i.toInt else throw new ArrayIndexOutOfBoundsException(s"offset $i")

  /** Big-endian unsigned field of `width` (0..8) bytes. */
  def uBe(b: Array[Byte], i: Int, width: Int): Long = {
    var v = 0L
    var k = 0
    while (k < width) { v = (v << 8) | (b(i + k) & 0xff); k += 1 }
    v
  }

  // ---- writes onto a stream -------------------------------------------

  def le16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >>> 8) & 0xff)
  }
  def le24(out: ByteArrayOutputStream, v: Int): Unit = {
    le16(out, v); out.write((v >>> 16) & 0xff)
  }
  def le32(out: ByteArrayOutputStream, v: Long): Unit = {
    le16(out, v.toInt); le16(out, (v >>> 16).toInt)
  }
  def le64(out: ByteArrayOutputStream, v: Long): Unit = {
    le32(out, v); le32(out, v >>> 32)
  }
  def be16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >>> 8) & 0xff); out.write(v & 0xff)
  }
  def be32(out: ByteArrayOutputStream, v: Long): Unit = {
    be16(out, (v >>> 16).toInt); be16(out, v.toInt)
  }

  /** Writes in a chosen byte order, the twins of `u16`/`u32` above. */
  def write16(out: ByteArrayOutputStream, v: Int, bigEndian: Boolean): Unit =
    if (bigEndian) be16(out, v) else le16(out, v)
  def write32(out: ByteArrayOutputStream, v: Long, bigEndian: Boolean): Unit =
    if (bigEndian) be32(out, v) else le32(out, v)

  // ---- stores into an array -------------------------------------------

  def putLe32(b: Array[Byte], i: Int, v: Long): Unit = {
    b(i) = v.toByte; b(i + 1) = (v >>> 8).toByte
    b(i + 2) = (v >>> 16).toByte; b(i + 3) = (v >>> 24).toByte
  }
  def putBe16(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = (v >>> 8).toByte; b(i + 1) = v.toByte
  }
  def putBe32(b: Array[Byte], i: Int, v: Long): Unit = {
    putBe16(b, i, (v >>> 16).toInt); putBe16(b, i + 2, v.toInt)
  }

  // ---- unsigned LEB128 ------------------------------------------------

  /** Unsigned LEB128 varint at `off` (7 bits per byte, low group first,
    * 0x80 = more): `(value, offset after it)`. None when the input ends
    * inside the varint or it runs past ten bytes, the 64-bit maximum. */
  def varint(b: Array[Byte], off: Int): Option[(Long, Int)] = {
    var v = 0L
    var shift = 0
    var i = off
    while (i >= 0 && i < b.length && shift <= 63) {
      val x = b(i) & 0xff
      v |= (x & 0x7fL) << shift
      i += 1
      if ((x & 0x80) == 0) return Some((v, i))
      shift += 7
    }
    None
  }

  /** The write-side twin of [[varint]]; `v` is treated as unsigned. */
  def putVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  // ---- checksums ------------------------------------------------------

  /** The zlib CRC-32 (`java.util.zip.CRC32`) of `len` bytes at `off`. */
  def crc32(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32
    c.update(b, off, len)
    c.getValue
  }
  def crc32(b: Array[Byte]): Long = crc32(b, 0, b.length)
}
