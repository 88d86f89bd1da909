package graft.codec

import java.io.ByteArrayOutputStream
import java.util.zip.{DataFormatException, Inflater}

/** The one inflate loop: a zlib (RFC 1950) or raw deflate (RFC 1951)
  * stream in `len` bytes at `off`, decoded with the JDK `Inflater`.
  *
  * The result is None, never an exception, when the stream
  *  - is corrupt or ends before its final block (truncation);
  *  - asks for a preset dictionary (zlib FDICT) — the JDK inflater
  *    would otherwise return 0 bytes forever;
  *  - inflates past `cap` bytes, or, with `exact` set, to any size
  *    other than `exact` (so bytes past the declared size are
  *    rejected, not dropped).
  *
  * Input after the end of the stream is left to the caller: `consumed`
  * says how many input bytes the stream used, which gzip members and
  * git pack entries need to find what follows. Every iteration but the
  * one that feeds raw mode's dummy byte produces output, consumes input
  * or stops, so the loop always ends.
  */
object Inflate {

  final case class Inflated(bytes: Array[Byte], consumed: Int)

  /** The inflated bytes of a zlib stream. */
  def zlib(b: Array[Byte], off: Int, len: Int, cap: Int): Option[Array[Byte]] =
    apply(b, off, len, cap).map(_.bytes)
  def zlib(b: Array[Byte], cap: Int): Option[Array[Byte]] = zlib(b, 0, b.length, cap)

  /** The inflated bytes of a raw deflate stream. */
  def raw(b: Array[Byte], off: Int, len: Int, cap: Int): Option[Array[Byte]] =
    apply(b, off, len, cap, raw = true).map(_.bytes)

  def apply(b: Array[Byte], off: Int, len: Int, cap: Int,
      raw: Boolean = false, exact: Long = -1L): Option[Inflated] = {
    if (off < 0 || len < 0 || off > b.length - len || cap < 0 || exact > cap)
      return None
    val sized = exact >= 0
    val inf = new Inflater(raw)
    try {
      inf.setInput(b, off, len)
      val buf = new Array[Byte](if (sized) exact.toInt else 8192)
      val sink =
        if (sized) null
        else new ByteArrayOutputStream(math.min(3L * len, math.min(cap, 1 << 16)).toInt.max(64))
      val limit = if (sized) exact else cap.toLong
      var total = 0L
      var dummyFed = false
      while (!inf.finished()) {
        val readBefore = inf.getBytesRead
        val k =
          if (!sized) inf.inflate(buf)
          else if (total < buf.length) inf.inflate(buf, total.toInt, buf.length - total.toInt)
          else inf.inflate(new Array[Byte](1)) // a sized stream must end here
        if (k == 0 && !inf.finished()) {
          if (inf.needsDictionary()) return None
          if (inf.needsInput()) {
            // documented nowrap quirk: raw mode may need one extra dummy
            // input byte to finish; a second starvation is truncation
            if (!raw || dummyFed) return None
            inf.setInput(Array[Byte](0))
            dummyFed = true
          } else if (inf.getBytesRead == readBefore) return None // no progress
        }
        total += k
        if (total > limit) return None
        if (!sized) sink.write(buf, 0, k)
      }
      if (sized && total != exact) return None
      val consumed = if (dummyFed) len else len - inf.getRemaining
      Some(Inflated(if (sized) buf else sink.toByteArray, consumed))
    } catch {
      case _: DataFormatException => None
    } finally inf.end()
  }
}
