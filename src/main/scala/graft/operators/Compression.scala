package graft.operators

import java.io.ByteArrayOutputStream
import java.util.zip.Deflater

import graft.codec.{Bytes, Inflate}

/** gzip (RFC 1952) member codec — crawl blobs and WARC records arrive
  * gzip-wrapped, so the ingestion path needs the header walk (what is
  * this member, how big does it claim to be) BEFORE spending inflate
  * on the survivors, and a REAL inflate for the records that pass.
  * Pure JDK (java.util.zip) — no external libs.
  *
  * Member layout: 1F 8B, CM=8 (deflate), FLG, MTIME u32 LE, XFL, OS,
  * then optional fields in order: FEXTRA (u16 LE len + data), FNAME
  * (NUL-terminated), FCOMMENT (NUL-terminated), FHCRC (u16); then the
  * deflate stream; then CRC32 and ISIZE (uncompressed size mod 2^32),
  * both u32 LE. Decode failures return None — one corrupt blob must
  * not kill a corpus-scale pass.
  */
object Compression {

  /** Parsed gzip metadata. `isize` is the DECLARED uncompressed size
    * (mod 2^32) from the trailer; [[gunzip]] verifies it and the CRC
    * against the actual inflate. */
  final case class GzipMeta(mtime: Long, os: Int, fname: Option[String],
      fcomment: Option[String], isize: Long)

  /** Inflate cap per member: a bomb fails instead of exhausting the heap. */
  private val MaxOut = 1 << 28

  /** Header + trailer walk of a SINGLE-member buffer, no inflate:
    * magic, flag-driven optional field hops, declared ISIZE off the
    * tail. Returns None for non-gzip, non-deflate, reserved flag
    * bits, or truncation. */
  def decodeGzipHeader(b: Array[Byte]): Option[GzipMeta] =
    parseHeader(b, 0).map { case (mtime, os, fn, fc, _) =>
      GzipMeta(mtime, os, fn, fc, Bytes.u32le(b, b.length - 4))
    }

  /** Header fields + the offset where the deflate stream starts, for
    * the member at `off`. */
  private def parseHeader(b: Array[Byte], off0: Int): Option[
      (Long, Int, Option[String], Option[String], Int)] = {
    if (b == null || b.length - off0 < 18) return None // hdr 10 + tail 8
    if ((b(off0) & 0xff) != 0x1f || (b(off0 + 1) & 0xff) != 0x8b)
      return None
    if ((b(off0 + 2) & 0xff) != 8) return None // deflate is the only CM
    val flg = b(off0 + 3) & 0xff
    if ((flg & 0xe0) != 0) return None // reserved bits must be zero
    val mtime = Bytes.u32le(b, off0 + 4)
    val os = b(off0 + 9) & 0xff
    var off = off0 + 10
    if ((flg & 0x04) != 0) { // FEXTRA
      if (off + 2 > b.length) return None
      val xlen = Bytes.u16le(b, off)
      off += 2 + xlen
      if (off > b.length) return None
    }
    def zstr(from: Int): Option[(String, Int)] = {
      var i = from
      while (i < b.length && b(i) != 0) i += 1
      if (i >= b.length) None
      else Some((new String(b, from, i - from, "ISO-8859-1"), i + 1))
    }
    var fname: Option[String] = None
    if ((flg & 0x08) != 0) zstr(off) match {
      case Some((s, next)) => fname = Some(s); off = next
      case None => return None
    }
    var fcomment: Option[String] = None
    if ((flg & 0x10) != 0) zstr(off) match {
      case Some((s, next)) => fcomment = Some(s); off = next
      case None => return None
    }
    if ((flg & 0x02) != 0) off += 2 // FHCRC
    if (off + 8 > b.length) return None // room for a trailer at least
    Some((mtime, os, fname, fcomment, off))
  }

  /** Decode ONE member starting at `off`: the verified data, its
    * metadata (ISIZE from THIS member's trailer, found right after
    * the deflate stream via the inflater's consumed-byte count), and
    * the offset of the next member. None on any CRC/ISIZE mismatch,
    * inflate error, or truncation — a "successful" decode is a
    * VERIFIED one. */
  def gunzipMember(b: Array[Byte], off: Int): Option[
      (Array[Byte], GzipMeta, Int)] =
    parseHeader(b, off).flatMap { case (mtime, os, fn, fc, start) =>
      // the deflate stream may not run into the 8-byte trailer; its
      // consumed-byte count is where THIS member's trailer starts
      Inflate(b, start, b.length - 8 - start, MaxOut, raw = true)
        .flatMap { case Inflate.Inflated(data, deflateLen) =>
          val trailer = start + deflateLen
          val isize = Bytes.u32le(b, trailer + 4)
          if (Bytes.crc32(data) == Bytes.u32le(b, trailer) &&
            (data.length.toLong & 0xffffffffL) == isize)
            Some((data, GzipMeta(mtime, os, fn, fc, isize), trailer + 8))
          else None
        }
    }

  /** REAL single-member decode: inflate + verify, and the member must
    * span the whole buffer (trailing garbage = not one clean member). */
  def gunzip(b: Array[Byte]): Option[Array[Byte]] =
    gunzipMember(b, 0).collect {
      case (data, _, next) if next == b.length => data
    }

  /** Decode a CONCATENATION of gzip members — the Common Crawl
    * .warc.gz layout (one member per record, members back to back).
    * Each member is independently verified; a torn tail ends the walk
    * with the good prefix (one bad member must not discard a shard). */
  def gunzipMembers(b: Array[Byte]): Vector[Array[Byte]] = {
    if (b == null) return Vector.empty
    val out = Vector.newBuilder[Array[Byte]]
    var off = 0
    var ok = true
    while (ok && off < b.length) {
      gunzipMember(b, off) match {
        case Some((data, _, next)) if next > off =>
          out += data
          off = next
        case _ => ok = false
      }
    }
    out.result()
  }

  /** Parsed zstd frame metadata (header only — the JDK has no zstd
    * codec, and header-filter-before-decompress is the curation
    * posture anyway). `contentSize` is the declared decompressed size
    * when the frame carries one (single-segment frames must; others
    * may omit it → None). */
  final case class ZstdMeta(windowSize: Option[Long], dictId: Long,
      contentSize: Option[Long], checksum: Boolean)

  /** zstd frame header walk (public RFC 8878): magic 28 B5 2F FD LE,
    * then the frame-header descriptor byte — dictionary-id field size
    * (0/1/2/4 bytes), content-checksum flag, single-segment flag, and
    * the frame-content-size field size (0/1/2/4/8). Non-single-segment
    * frames carry a window descriptor byte (exponent+mantissa →
    * window size); single-segment frames use the content size as the
    * window. Skippable frames (magic 184D2A5x) return None — they
    * carry no content. Reserved descriptor bits must be zero. */
  def decodeZstdHeader(b: Array[Byte]): Option[ZstdMeta] = {
    if (b == null || b.length < 6) return None
    if ((b(0) & 0xff) != 0x28 || (b(1) & 0xff) != 0xb5 ||
      (b(2) & 0xff) != 0x2f || (b(3) & 0xff) != 0xfd) return None
    val fhd = b(4) & 0xff
    if ((fhd & 0x08) != 0) return None // reserved bit must be zero
    val fcsFlag = (fhd >> 6) & 0x3
    val singleSegment = (fhd & 0x20) != 0
    val checksum = (fhd & 0x04) != 0
    val didFlag = fhd & 0x3
    var off = 5
    var windowSize: Option[Long] = None
    if (!singleSegment) {
      if (off >= b.length) return None
      val wd = b(off) & 0xff
      val exp = wd >> 3
      val mantissa = wd & 0x7
      val base = 1L << (10 + exp)
      windowSize = Some(base + (base / 8) * mantissa)
      off += 1
    }
    val didLen = didFlag match {
      case 0 => 0; case 1 => 1; case 2 => 2; case _ => 4
    }
    if (off + didLen > b.length) return None
    var dictId = 0L
    var i = 0
    while (i < didLen) {
      dictId |= (b(off + i) & 0xff).toLong << (8 * i); i += 1
    }
    off += didLen
    // FCS size: flag 0 -> 1 byte IF single-segment else absent;
    // 1 -> 2 bytes (value + 256); 2 -> 4; 3 -> 8
    val fcsLen = fcsFlag match {
      case 0 => if (singleSegment) 1 else 0
      case 1 => 2; case 2 => 4; case _ => 8
    }
    if (off + fcsLen > b.length) return None
    val contentSize =
      if (fcsLen == 0) None
      else {
        var v = 0L
        var j = 0
        while (j < fcsLen) {
          v |= (b(off + j) & 0xff).toLong << (8 * j); j += 1
        }
        Some(if (fcsLen == 2) v + 256 else v)
      }
    if (singleSegment) windowSize = contentSize
    Some(ZstdMeta(windowSize, dictId, contentSize, checksum))
  }

  /** Fixture emitter: a byte-valid zstd FRAME HEADER (descriptor,
    * window/dict/content-size fields) followed by an opaque payload —
    * all the sniff reads. */
  def encodeZstdHeader(windowLog: Int, dictId: Long,
      contentSize: Option[Long], checksum: Boolean,
      payload: Array[Byte]): Array[Byte] = {
    require(windowLog >= 10 && windowLog <= 31, "window exponent 10..31")
    require(dictId >= 0 && dictId <= 0xffffffffL, "dict id is u32")
    val out = new ByteArrayOutputStream(payload.length + 16)
    out.write(0x28); out.write(0xb5); out.write(0x2f); out.write(0xfd)
    val didLen = if (dictId == 0) 0 else if (dictId <= 0xff) 1
      else if (dictId <= 0xffff) 2 else 4
    val didFlag = didLen match {
      case 0 => 0; case 1 => 1; case 2 => 2; case _ => 3
    }
    val fcsFlag = contentSize match {
      case None => 0
      case Some(v) if v >= 256 && v < 65536 + 256 => 1
      case Some(v) if v <= 0xffffffffL => 2
      case _ => 3
    }
    out.write((fcsFlag << 6) | (if (checksum) 0x04 else 0) | didFlag)
    out.write((windowLog - 10) << 3) // window descriptor, mantissa 0
    var i = 0
    while (i < didLen) { out.write(((dictId >> (8 * i)) & 0xff).toInt); i += 1 }
    contentSize.foreach { v =>
      val fcsLen = fcsFlag match { case 1 => 2; case 2 => 4; case _ => 8 }
      val enc = if (fcsFlag == 1) v - 256 else v
      var j = 0
      while (j < fcsLen) { out.write(((enc >> (8 * j)) & 0xff).toInt); j += 1 }
    }
    out.write(payload, 0, payload.length)
    out.toByteArray
  }

  /** Fixture emitter: one byte-valid gzip member with explicit FNAME /
    * FCOMMENT fields (GZIPOutputStream cannot set them) and a real
    * deflate of `data` — round-trips through [[gunzip]] and any
    * standard gzip tool. */
  def encodeGzip(data: Array[Byte], mtime: Long, fname: Option[String],
      fcomment: Option[String]): Array[Byte] = {
    require(mtime >= 0 && mtime <= 0xffffffffL, "MTIME is u32")
    val out = new ByteArrayOutputStream(data.length / 2 + 64)
    out.write(0x1f); out.write(0x8b); out.write(8)
    out.write((if (fname.isDefined) 0x08 else 0) |
      (if (fcomment.isDefined) 0x10 else 0))
    Bytes.le32(out, mtime)
    out.write(0); out.write(255) // XFL, OS=unknown
    fname.foreach { s =>
      out.write(s.getBytes("ISO-8859-1")); out.write(0)
    }
    fcomment.foreach { s =>
      out.write(s.getBytes("ISO-8859-1")); out.write(0)
    }
    val def8 = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    def8.setInput(data); def8.finish()
    val buf = new Array[Byte](8192)
    while (!def8.finished()) {
      val n = def8.deflate(buf)
      out.write(buf, 0, n)
    }
    def8.end()
    Bytes.le32(out, Bytes.crc32(data))
    Bytes.le32(out, data.length.toLong & 0xffffffffL)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Parquet file-shell sniff
  // ------------------------------------------------------------------

  /** Parquet file-shell metadata (public format spec,
    * apache/parquet-format): `footerLen` is the serialized
    * FileMetaData length from the trailer; `encryptedFooter` marks the
    * 'PARE' trailing magic of footer-encrypted files. */
  final case class ParquetShell(footerLen: Long, encryptedFooter: Boolean)

  /** Parquet sniff: leading 'PAR1' magic, trailing 'PAR1' (plaintext
    * footer) or 'PARE' (encrypted footer), and the u32 LE footer
    * length 8 bytes from the end, bounds-checked against the file
    * size (footer + both magics + the length field must fit). A blob
    * store's parquet files route to a table reader, not a text
    * pipeline — this is the dispatcher's cheapest high-value test.
    * Footer thrift is NOT parsed (that's the table reader's job). */
  def decodeParquetShell(b: Array[Byte]): Option[ParquetShell] = {
    if (b == null || b.length < 12) return None
    if (b(0) != 'P' || b(1) != 'A' || b(2) != 'R' || b(3) != '1')
      return None
    val e = b.length
    val enc = b(e - 4) == 'P' && b(e - 3) == 'A' && b(e - 2) == 'R' &&
      b(e - 1) == 'E'
    val plain = b(e - 4) == 'P' && b(e - 3) == 'A' && b(e - 2) == 'R' &&
      b(e - 1) == '1'
    if (!enc && !plain) return None
    val fl = Bytes.u32le(b, e - 8)
    // footer + trailer (8) must fit after the 4-byte leading magic
    if (fl <= 0 || fl > e - 12L) return None
    Some(ParquetShell(fl, enc))
  }

  /** Fixture emitter: 'PAR1' + `payload` + `footerLen` filler bytes
    * (stand-in for the thrift FileMetaData) + u32 LE footer length +
    * trailing 'PAR1'/'PARE'. Stream length = 4 + |payload| +
    * footerLen + 8 — the formula the oracle replays. */
  def encodeParquetShell(payload: Array[Byte], footerLen: Int,
      encryptedFooter: Boolean): Array[Byte] = {
    require(footerLen > 0 && footerLen < (1 << 30), "bad footer length")
    val out = new ByteArrayOutputStream(12 + payload.length + footerLen)
    out.write('P'); out.write('A'); out.write('R'); out.write('1')
    out.write(payload, 0, payload.length)
    out.write(new Array[Byte](footerLen), 0, footerLen)
    out.write(footerLen & 0xff); out.write((footerLen >> 8) & 0xff)
    out.write((footerLen >> 16) & 0xff); out.write((footerLen >> 24) & 0xff)
    out.write('P'); out.write('A'); out.write('R')
    out.write(if (encryptedFooter) 'E' else '1')
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // lz4 frame (public spec: lz4_Frame_format.md) + XXH32
  // ------------------------------------------------------------------

  /** XXH32 (public spec, Cyan4973/xxHash) — the checksum the LZ4 frame
    * header carries. 32-bit modular arithmetic in an Int. */
  def xxh32(b: Array[Byte], off: Int, len: Int, seed: Int = 0): Int = {
    val P1 = -1640531535; val P2 = -2048144777; val P3 = -1028477379
    val P4 = 668265263; val P5 = 374761393
    def rotl(x: Int, r: Int): Int = (x << r) | (x >>> (32 - r))
    var i = off
    val end = off + len
    var h =
      if (len >= 16) {
        var v1 = seed + P1 + P2; var v2 = seed + P2
        var v3 = seed; var v4 = seed - P1
        while (i <= end - 16) {
          v1 = rotl(v1 + Bytes.i32le(b, i) * P2, 13) * P1
          v2 = rotl(v2 + Bytes.i32le(b, i + 4) * P2, 13) * P1
          v3 = rotl(v3 + Bytes.i32le(b, i + 8) * P2, 13) * P1
          v4 = rotl(v4 + Bytes.i32le(b, i + 12) * P2, 13) * P1
          i += 16
        }
        rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
      } else seed + P5
    h += len
    while (i <= end - 4) { h = rotl(h + Bytes.i32le(b, i) * P3, 17) * P4; i += 4 }
    while (i < end) { h = rotl(h + (b(i) & 0xff) * P5, 11) * P1; i += 1 }
    h ^= h >>> 15; h *= P2; h ^= h >>> 13; h *= P3; h ^= h >>> 16
    h
  }

  /** LZ4 frame-descriptor metadata: declared content size when the
    * frame carries one, the block-maximum size in KB (codes 4–7 =
    * 64 KB…4 MB), and whether block checksums are flagged. */
  final case class Lz4Meta(contentSize: Option[Long], blockMaxKb: Int,
      blockChecksums: Boolean)

  /** LZ4 frame sniff: magic 0x184D2204 LE, FLG version bits = 01 with
    * reserved bits clear, BD block-max code in 4–7, optional content
    * size, and the REAL XXH32 header checksum verified ((xxh32 >> 8)
    * & 0xff over the descriptor) — a forged or torn header fails. */
  def decodeLz4Header(b: Array[Byte]): Option[Lz4Meta] = {
    if (b == null || b.length < 7) return None
    if (Bytes.u32le(b, 0) != 0x184d2204L) return None
    val flg = b(4) & 0xff
    if ((flg >>> 6) != 1) return None // version must be 01
    if ((flg & 0x02) != 0) return None // reserved bit
    val bd = b(5) & 0xff
    if ((bd & 0x8f) != 0) return None // reserved bits of BD
    val bmCode = (bd >>> 4) & 7
    if (bmCode < 4) return None
    val hasContentSize = (flg & 0x08) != 0
    val hasDictId = (flg & 0x01) != 0
    val descLen = 2 + (if (hasContentSize) 8 else 0) + (if (hasDictId) 4 else 0)
    if (4 + descLen + 1 > b.length) return None
    val hc = b(4 + descLen) & 0xff
    if (((xxh32(b, 4, descLen) >>> 8) & 0xff) != hc) return None
    val contentSize =
      if (hasContentSize)
        Some(Bytes.u64le(b, 6))
      else None
    Some(Lz4Meta(contentSize, 64 << ((bmCode - 4) * 2),
      (flg & 0x10) != 0))
  }

  /** Fixture emitter: byte-valid frame header (real XXH32 header
    * checksum) + an uncompressed block holding `payload` + EndMark. */
  def encodeLz4(payload: Array[Byte], blockMaxCode: Int = 4,
      withContentSize: Boolean = true): Array[Byte] = {
    require(blockMaxCode >= 4 && blockMaxCode <= 7)
    val out = new ByteArrayOutputStream(payload.length + 32)
    Bytes.le32(out, 0x184d2204L)
    val flg = 0x40 | 0x20 | (if (withContentSize) 0x08 else 0)
    out.write(flg)
    out.write(blockMaxCode << 4)
    if (withContentSize) Bytes.le64(out, payload.length.toLong)
    val desc = out.toByteArray
    out.write((xxh32(desc, 4, desc.length - 4) >>> 8) & 0xff)
    // one uncompressed block (high bit of the size word set) + EndMark
    Bytes.le32(out, payload.length.toLong | 0x80000000L)
    out.write(payload, 0, payload.length)
    Bytes.le32(out, 0L)
    out.toByteArray
  }
}
