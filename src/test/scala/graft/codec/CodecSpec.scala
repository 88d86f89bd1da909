package graft.codec

import java.io.ByteArrayOutputStream
import java.util.zip.Deflater

import org.scalatest.funsuite.AnyFunSuite

class CodecSpec extends AnyFunSuite {

  private def written(f: ByteArrayOutputStream => Unit): Array[Byte] = {
    val out = new ByteArrayOutputStream(); f(out); out.toByteArray
  }

  // values whose bytes are 0x80/0xFF, where a missing `& 0xff` sign-extends
  private val v16 = Seq(0, 1, 0x7f, 0x80, 0xff, 0x8000, 0xff80, 0xffff)
  private val v32 = Seq(0L, 0x80L, 0xffL, 0x8080L, 0x7fffffffL, 0x80000000L,
    0xff808080L, 0xffffffffL)
  private val v64 = Seq(0L, 0x80L, Long.MaxValue, Long.MinValue, -1L,
    0x80ff80ff80ff80ffL)

  /** `write` at offsets 0 and len-n of a 0x80-filled array, read back. */
  private def roundTrip[V](n: Int, vs: Seq[V])(
      write: (ByteArrayOutputStream, V) => Unit,
      read: (Array[Byte], Int) => V): Unit =
    for (v <- vs; pad <- Seq(0, 3)) {
      val b = Array.fill[Byte](pad)(0x80.toByte) ++ written(write(_, v))
      assert(b.length == pad + n)
      assert(read(b, pad) == v, s"value $v at offset $pad")
    }

  test("fixed-width writes and reads round-trip at offset 0 and len-n") {
    roundTrip(2, v16)(Bytes.le16, Bytes.u16le)
    roundTrip(2, v16)(Bytes.be16, Bytes.u16be)
    roundTrip(3, v16.map(_ | 0x800000))(Bytes.le24, Bytes.u24le)
    roundTrip(4, v32)(Bytes.le32, Bytes.u32le)
    roundTrip(4, v32)(Bytes.be32, Bytes.u32be)
    roundTrip(8, v64)(Bytes.le64, Bytes.u64le)
    for (be <- Seq(false, true)) {
      roundTrip(2, v16)(Bytes.write16(_, _, be), Bytes.u16(_, _, be))
      roundTrip(4, v32)(Bytes.write32(_, _, be), Bytes.u32(_, _, be))
    }
  }

  test("signed reads sign-extend; unsigned reads never do") {
    val ff = Array.fill[Byte](8)(0xff.toByte)
    assert(Bytes.u8(ff, 0) == 255)
    assert(Bytes.u16le(ff, 0) == 0xffff && Bytes.i16le(ff, 0) == -1)
    assert(Bytes.u32le(ff, 4) == 0xffffffffL && Bytes.i32le(ff, 4) == -1)
    assert(Bytes.u32be(ff, 4) == 0xffffffffL && Bytes.i32be(ff, 4) == -1)
    assert(Bytes.u64le(ff, 0) == -1L && Bytes.u64be(ff, 0) == -1L)
    assert(Bytes.u24be(Array[Byte](0x80.toByte, 0, 0xff.toByte), 0) == 0x8000ff)
    val b = Array[Byte](0x01, 0x80.toByte, 0xff.toByte)
    assert(Bytes.uBe(b, 0, 3) == 0x0180ffL && Bytes.uBe(b, 1, 0) == 0L)
  }

  test("array stores round-trip through the reads") {
    val b = new Array[Byte](6)
    Bytes.putBe16(b, 4, 0x80ff); assert(Bytes.u16be(b, 4) == 0x80ff)
    Bytes.putLe32(b, 2, 0xff808080L); assert(Bytes.u32le(b, 2) == 0xff808080L)
    Bytes.putBe32(b, 2, 0x80ff80ffL); assert(Bytes.u32be(b, 2) == 0x80ff80ffL)
  }

  test("a read past either end throws ArrayIndexOutOfBoundsException") {
    val b = new Array[Byte](4)
    val reads: Seq[() => Any] = Seq(() => Bytes.u16le(b, 3),
      () => Bytes.u32be(b, 1), () => Bytes.u64le(b, 0), () => Bytes.i32le(b, -1),
      () => Bytes.u24le(b, 2), () => Bytes.u32be(b, 1L << 32),
      () => Bytes.u16(b, (1L << 32) + 1, bigEndian = false))
    reads.foreach(r => assertThrows[ArrayIndexOutOfBoundsException](r()))
  }

  test("varint round-trips, and rejects truncated and overlong input") {
    for (v <- Seq(0L, 1L, 127L, 128L, 300L, 0xffffffffL, Long.MaxValue, -1L)) {
      val b = Array[Byte](0x55) ++ written(Bytes.putVarint(_, v))
      assert(Bytes.varint(b, 1).contains((v, b.length)))
    }
    assert(written(Bytes.putVarint(_, -1L)).length == 10)
    assert(Bytes.varint(Array[Byte](0x80.toByte), 0).isEmpty) // truncated
    assert(Bytes.varint(Array.emptyByteArray, 0).isEmpty)
    assert(Bytes.varint(Array[Byte](1), 1).isEmpty && Bytes.varint(Array[Byte](1), -1).isEmpty)
    val overlong = Array.fill[Byte](10)(0x80.toByte) :+ 0.toByte
    assert(Bytes.varint(overlong, 0).isEmpty)
    assert(Bytes.varint(overlong.drop(1), 0).isDefined) // ten bytes is the max
  }

  test("crc32 is the zlib CRC-32 over a slice") {
    val b = "xx123456789yy".getBytes("US-ASCII")
    assert(Bytes.crc32(b, 2, 9) == 0xcbf43926L) // the standard check value
    assert(Bytes.crc32(Array.emptyByteArray) == 0L)
  }

  // ---- Inflate ---------------------------------------------------------

  private val data = Array.tabulate[Byte](5000)(i => (i * 31 % 251).toByte)

  private def deflate(raw: Array[Byte], nowrap: Boolean = false,
      dictionary: Option[Array[Byte]] = None): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, nowrap)
    dictionary.foreach(d.setDictionary)
    d.setInput(raw); d.finish()
    val out = written { o =>
      val buf = new Array[Byte](1024)
      while (!d.finished()) o.write(buf, 0, d.deflate(buf))
    }
    d.end()
    out
  }

  test("Inflate decodes zlib and raw streams and reports the bytes consumed") {
    val z = deflate(data)
    val r = deflate(data, nowrap = true)
    val zi = Inflate(z, 0, z.length, 1 << 20).get
    assert(zi.bytes.sameElements(data) && zi.consumed == z.length)
    val ri = Inflate(r, 0, r.length, 1 << 20, raw = true).get
    assert(ri.bytes.sameElements(data) && ri.consumed == r.length)
    assert(Inflate.zlib(z, 1 << 20).exists(_.sameElements(data)))
    assert(Inflate.raw(r, 0, r.length, 1 << 20).exists(_.sameElements(data)))
    // the wrappers are not interchangeable
    assert(Inflate(z, 0, z.length, 1 << 20, raw = true).forall(!_.bytes.sameElements(data)))
    assert(Inflate(r, 0, r.length, 1 << 20).isEmpty)
    val empty = deflate(Array.emptyByteArray)
    assert(Inflate.zlib(empty, 0).exists(_.isEmpty))
  }

  test("Inflate leaves trailing garbage to the caller via `consumed`") {
    val z = deflate(data)
    val padded = Array[Byte](9, 9) ++ z ++ "trailing garbage".getBytes("US-ASCII")
    val got = Inflate(padded, 2, padded.length - 2, 1 << 20).get
    assert(got.bytes.sameElements(data) && got.consumed == z.length)
  }

  test("Inflate with an exact size rejects a stream that is too short or too long") {
    val z = deflate(data)
    assert(Inflate(z, 0, z.length, 1 << 20, exact = data.length)
      .exists(_.bytes.sameElements(data)))
    assert(Inflate(z, 0, z.length, 1 << 20, exact = data.length + 1).isEmpty)
    assert(Inflate(z, 0, z.length, 1 << 20, exact = data.length - 1).isEmpty)
    assert(Inflate(z, 0, z.length, 1 << 20, exact = 0).isEmpty)
    val r = deflate(data, nowrap = true)
    assert(Inflate(r, 0, r.length, 1 << 20, raw = true, exact = data.length)
      .exists(_.bytes.sameElements(data)))
    assert(Inflate(r, 0, r.length, 1 << 20, raw = true, exact = data.length - 1).isEmpty)
  }

  test("Inflate enforces its cap") {
    val z = deflate(data)
    assert(Inflate.zlib(z, data.length).isDefined)
    assert(Inflate.zlib(z, data.length - 1).isEmpty)
    assert(Inflate(z, 0, z.length, 100, exact = data.length).isEmpty)
    val bomb = deflate(new Array[Byte](8 << 20))
    assert(Inflate.zlib(bomb, 1 << 20).isEmpty)
  }

  test("Inflate rejects truncated and corrupt input") {
    val z = deflate(data)
    for (cut <- Seq(0, 1, 2, z.length / 2, z.length - 1))
      assert(Inflate(z, 0, cut, 1 << 20).isEmpty, s"zlib cut at $cut")
    // raw deflate has no trailer: cut well inside the final block
    val r = deflate(data, nowrap = true)
    for (cut <- Seq(0, 1, r.length / 2))
      assert(Inflate(r, 0, cut, 1 << 20, raw = true).isEmpty, s"raw cut at $cut")
    val bad = z.clone(); bad(z.length - 1) = (bad(z.length - 1) ^ 1).toByte // adler32
    assert(Inflate.zlib(bad, 1 << 20).isEmpty)
    assert(Inflate.zlib(Array[Byte](0x78, 0x9c.toByte, 0xff.toByte, 0xff.toByte), 1 << 20).isEmpty)
    assert(Inflate(z, 4, z.length, 1 << 20).isEmpty) // slice past the end
    assert(Inflate(z, -1, 2, 1 << 20).isEmpty)
  }

  test("Inflate rejects a zlib stream that needs a preset dictionary") {
    val fdict = deflate(data, dictionary = Some("dictionary".getBytes("US-ASCII")))
    assert((fdict(1) & 0x20) != 0) // FDICT flag set
    assert(Inflate.zlib(fdict, 1 << 20).isEmpty)
    assert(Inflate(fdict, 0, fdict.length, 1 << 20, exact = data.length).isEmpty)
  }

  // ---- MSB-first bits ----------------------------------------------------

  test("MsbBitWriter and MsbBitReader round-trip fields of 0..64 bits") {
    val rnd = new scala.util.Random(7)
    val fields = Seq.fill(400) {
      val n = rnd.nextInt(65)
      val v = if (n == 64) rnd.nextLong() else if (n == 0) 0L else rnd.nextLong() & ((1L << n) - 1)
      (n, v)
    }
    val w = new MsbBitWriter()
    fields.foreach { case (n, v) => w.write(v, n) }
    val bytes = w.toByteArray
    assert(bytes.length == (fields.map(_._1).sum + 7) / 8)
    val r = new MsbBitReader(bytes)
    fields.foreach { case (n, v) => assert(r.bits(n) == v, s"$n bits") }
  }

  test("MsbBitReader reads MSB first, aligns, and starts at an offset") {
    val r = new MsbBitReader(Array[Byte](0x7f, 0xa5.toByte, 0x80.toByte), 1)
    assert(r.bit() == 1 && r.bit() == 0 && !r.aligned)
    assert(r.bits(3) == 4L && r.bytePos == 1)
    assert(r.align() == 2 && r.aligned && r.align() == 2)
    assert(r.bits(8) == 0x80L)
    val w = new MsbBitWriter()
    w.write(1, 1); w.write(0x5, 3)
    assert(w.toByteArray.sameElements(Array[Byte](0xd0.toByte)))
  }

  test("MsbBitReader throws at the end of input, like a byte read") {
    val r = new MsbBitReader(Array[Byte](0x0f))
    assert(r.bits(4) == 0L && r.bits(0) == 0L)
    assertThrows[ArrayIndexOutOfBoundsException](r.bits(5))
    assertThrows[ArrayIndexOutOfBoundsException](new MsbBitReader(Array.emptyByteArray).bit())
    assertThrows[ArrayIndexOutOfBoundsException](new MsbBitReader(Array[Byte](1), 1).bits(1))
  }
}
