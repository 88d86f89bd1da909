package graft.operators

import java.io.ByteArrayOutputStream

import graft.codec.Bytes

/** Pure-JVM image header codec: parse (and, for fixtures, emit) the
  * metadata-bearing prefix of PNG and JPEG streams — no codec libraries,
  * no native deps.
  *
  * This is the real decode step of the multimodal family (the container
  * ships no image libraries, so FULL pixel decode stays out of scope,
  * but header decode — format, dimensions, bit depth — is what a 100 TB
  * curation pipeline actually runs on every blob: filter by resolution /
  * aspect / format BEFORE paying for pixel decode on the survivors).
  *
  *  - PNG: verify the 8-byte signature, then walk the chunk chain
  *    (4-byte big-endian length, 4-byte type, payload, 4-byte CRC) to
  *    IHDR and read width/height (u32 BE) + bit depth (u8).
  *    (spec: PNG second edition, W3C — public.)
  *  - JPEG: verify SOI, then walk marker segments (0xFF marker +
  *    u16 BE length including itself; RSTn/TEM stand alone) past
  *    APPn/COM/DQT/... to the first SOFn (C0–CF minus C4/C8/CC) and
  *    read precision (u8) + height/width (u16 BE). Fill bytes (0xFF
  *    padding before a marker) are tolerated per spec (ITU T.81 —
  *    public). Scan data (SOS) or EOI before any SOF ⇒ malformed.
  *
  * Decode failures return None — the operator maps them to NULL columns
  * rather than failing the job (one corrupt blob must not kill a
  * corpus-scale pass).
  */
object ImageHeaders {

  /** Decoded header metadata. `bitDepth`: PNG bit depth / JPEG sample
    * precision — 8 for virtually all real-world files. */
  final case class ImageMeta(format: String, width: Int, height: Int,
      bitDepth: Int)

  private val PngSig: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Sniff-and-parse: PNG first (unambiguous signature), then JPEG,
    * then GIF/BMP (fixed-offset headers), then WEBP (RIFF container),
    * then TIFF ([[TiffHeaders]] — II/MM order mark + IFD walk), then
    * AVIF/HEIC ([[VideoHeaders.decodeAvif]] — ISO-BMFF ispe walk). */
  def decode(b: Array[Byte]): Option[ImageMeta] =
    decodePng(b).orElse(decodeJpeg(b))
      .orElse(decodeGif(b)).orElse(decodeBmp(b))
      .orElse(decodeWebp(b))
      .orElse(TiffHeaders.decodeTiff(b))
      .orElse(VideoHeaders.decodeAvif(b))

  /** WEBP (public spec, RFC 9649 / Google container spec): 'RIFF' +
    * u32 LE size + 'WEBP', then a chunk chain of (4-byte id, u32 LE
    * size, payload, odd sizes padded to even) — the same LE chunk-hop
    * discipline as [[AudioHeaders.decodeWav]], so unknown chunks (EXIF,
    * ICCP, ...) are hopped by size, never scanned. Dimensions come from
    * the first image-bearing chunk:
    *  - 'VP8 ' (lossy): keyframe start code 0x9D 0x01 0x2A at payload
    *    offset 3, then u16 LE width/height with the low 14 bits valid;
    *  - 'VP8L' (lossless): signature byte 0x2F, then a u32 LE bitfield
    *    of (width−1 : 14 bits) | (height−1 : 14 bits) << 14, 3-bit
    *    version that must be 0;
    *  - 'VP8X' (extended): 4 flag/reserved bytes, then 24-bit LE
    *    (canvas width − 1) and (canvas height − 1) — authoritative for
    *    animated/alpha files whose frame chunks follow.
    * WebP pixels are 8-bit; bitDepth is reported as 8. */
  def decodeWebp(b: Array[Byte]): Option[ImageMeta] = {
    if (b == null || b.length < 12) return None
    if (b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
      b(8) != 'W' || b(9) != 'E' || b(10) != 'B' || b(11) != 'P') return None
    var off = 12
    while (off + 8 <= b.length) {
      val id = new String(b, off, 4, "US-ASCII")
      val size = Bytes.u32le(b, off + 4)
      if (size < 0) return None
      val p = off + 8
      id match {
        case "VP8 " =>
          if (size < 10 || p + 10 > b.length) return None
          // keyframe start code; an interframe-first stream is malformed
          if (Bytes.u8(b, p + 3) != 0x9d || Bytes.u8(b, p + 4) != 0x01 ||
            Bytes.u8(b, p + 5) != 0x2a) return None
          val w = Bytes.u16le(b, p + 6) & 0x3fff
          val h = Bytes.u16le(b, p + 8) & 0x3fff
          if (w == 0 || h == 0) return None
          return Some(ImageMeta("webp", w, h, 8))
        case "VP8L" =>
          if (size < 5 || p + 5 > b.length) return None
          if (Bytes.u8(b, p) != 0x2f) return None
          val bits = Bytes.u32le(b, p + 1)
          if (((bits >> 29) & 0x7) != 0) return None // version must be 0
          val w = (bits & 0x3fff).toInt + 1
          val h = ((bits >> 14) & 0x3fff).toInt + 1
          return Some(ImageMeta("webp_lossless", w, h, 8))
        case "VP8X" =>
          if (size < 10 || p + 10 > b.length) return None
          val w = Bytes.u24le(b, p + 4) + 1
          val h = Bytes.u24le(b, p + 7) + 1
          return Some(ImageMeta("webp_extended", w, h, 8))
        case _ => () // unknown chunk: hop by size
      }
      // Long math: a hostile declared size near u32 max must end the
      // walk cleanly, not overflow the Int offset (the AudioHeaders
      // discipline)
      val next = off.toLong + 8L + size + (size & 1L)
      if (next > b.length) return None
      off = next.toInt
    }
    None
  }

  /** WebP extended-format metadata (VP8X, RFC 9649 §2.4): the EXIF
    * chunk carries a TIFF stream (some writers keep the JPEG-style
    * "Exif\0\0" prefix — both shapes accepted), the 'XMP ' chunk an
    * XML packet. Returns (exif, xmp); None when the stream is not an
    * extended WebP or declares neither flag's chunk. The VP8X flag
    * bits (EXIF 0x08, XMP 0x04) gate the chunk walk — a chunk present
    * WITHOUT its flag is ignored per spec. */
  def decodeWebpMeta(b: Array[Byte])
      : Option[(Option[TiffHeaders.ExifMeta], Option[String])] = {
    if (b == null || b.length < 30) return None
    if (b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
      b(8) != 'W' || b(9) != 'E' || b(10) != 'B' || b(11) != 'P') return None
    // VP8X must lead the chunk chain in extended files
    if (new String(b, 12, 4, "US-ASCII") != "VP8X") return None
    // the spec fixes the VP8X payload at exactly 10 bytes; accepting a
    // larger declared size while hopping a hard-coded 10 would desync
    // the chunk walk into the payload
    if (Bytes.u32le(b, 16) != 10) return None
    val flags = Bytes.u8(b, 20)
    val wantExif = (flags & 0x08) != 0
    val wantXmp = (flags & 0x04) != 0
    var exif: Option[TiffHeaders.ExifMeta] = None
    var xmp: Option[String] = None
    var off = 20 + 10 // past the VP8X payload
    while (off + 8 <= b.length) {
      val id = new String(b, off, 4, "US-ASCII")
      val size = Bytes.u32le(b, off + 4)
      if (size < 0) return None
      val p = off + 8
      if (p + size > b.length) return None
      if (id == "EXIF" && wantExif && exif.isEmpty) {
        val hasPrefix = size >= 6 && b(p) == 'E' && b(p + 1) == 'x' &&
          b(p + 2) == 'i' && b(p + 3) == 'f' && b(p + 4) == 0 && b(p + 5) == 0
        val from = if (hasPrefix) p + 6 else p
        exif = Some(TiffHeaders.exifFromTiff(
          java.util.Arrays.copyOfRange(b, from, (p + size).toInt))
          .getOrElse(return None)) // a flagged-but-corrupt EXIF rejects
      } else if (id == "XMP " && wantXmp && xmp.isEmpty)
        xmp = Some(new String(b, p, size.toInt, "UTF-8"))
      val next = off.toLong + 8L + size + (size & 1L)
      if (next > b.length) return None
      off = next.toInt
    }
    if (exif.isEmpty && xmp.isEmpty) None else Some((exif, xmp))
  }

  /** Fixture emitter: extended WebP — RIFF/WEBP, VP8X with the
    * EXIF/XMP flags and 24-bit canvas dims, an EXIF chunk (TIFF from
    * [[TiffHeaders.encodeExifTiff]], optionally "Exif\0\0"-prefixed,
    * odd sizes padded per RIFF), an 'XMP ' chunk when `xmp` is
    * non-empty, and a minimal VP8L header chunk so the plain sniff
    * still reads the stream. Stream length = 12 + 18 + (8 + |exif| +
    * pad) [+ 8 + |xmp| + pad] + 14 — the q383 oracle's formula. */
  def encodeWebpExif(width: Int, height: Int, orientation: Int,
      make: String, bigEndian: Boolean, exifPrefix: Boolean,
      xmp: String): Array[Byte] = {
    require(width >= 1 && width <= (1 << 24) &&
      height >= 1 && height <= (1 << 24), "VP8X dims are 24-bit")
    val tiff = TiffHeaders.encodeExifTiff(orientation, make, bigEndian)
    val exifPayload =
      if (exifPrefix) "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ tiff
      else tiff
    val xmpBytes = xmp.getBytes("UTF-8")
    val out = new java.io.ByteArrayOutputStream(exifPayload.length + 96)
    def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"), 0, 4)
    def chunk(id: String, payload: Array[Byte]): Unit = {
      ascii(id); Bytes.le32(out, payload.length.toLong)
      out.write(payload, 0, payload.length)
      if (payload.length % 2 == 1) out.write(0) // RIFF pad byte
    }
    ascii("RIFF"); Bytes.le32(out, 0) // size patched below
    ascii("WEBP")
    ascii("VP8X"); Bytes.le32(out, 10L)
    out.write(0x08 | (if (xmpBytes.nonEmpty) 0x04 else 0)) // EXIF [+XMP]
    out.write(0); out.write(0); out.write(0) // reserved
    Bytes.le24(out, width - 1); Bytes.le24(out, height - 1)
    chunk("EXIF", exifPayload)
    if (xmpBytes.nonEmpty) chunk("XMP ", xmpBytes)
    // minimal VP8L header (signature + dims bits) so decodeWebp works
    val bits = (width.min(1 << 14) - 1).toLong |
      ((height.min(1 << 14) - 1).toLong << 14) | (1L << 28) // alpha hint
    val vp8l = new Array[Byte](5)
    vp8l(0) = 0x2f
    var v = bits; var i = 1
    while (i < 5) { vp8l(i) = (v & 0xff).toByte; v >>= 8; i += 1 }
    chunk("VP8L", vp8l)
    val bytes = out.toByteArray
    val riffSize = bytes.length - 8L
    bytes(4) = (riffSize & 0xff).toByte
    bytes(5) = ((riffSize >> 8) & 0xff).toByte
    bytes(6) = ((riffSize >> 16) & 0xff).toByte
    bytes(7) = ((riffSize >> 24) & 0xff).toByte
    bytes
  }

  /** GIF87a/GIF89a: 6-byte signature, then logical-screen width/height
    * as u16 LITTLE-endian (GIF is the one LE format here), then a
    * packed byte whose bits 4-6 are the COLOR RESOLUTION − 1 (bits per
    * primary — the field that matches [[ImageMeta.bitDepth]]'s meaning;
    * the LOW 3 bits are the global color-table size exponent, a
    * different thing). */
  def decodeGif(b: Array[Byte]): Option[ImageMeta] = {
    if (b == null || b.length < 11) return None
    val sig = new String(b, 0, 6, "US-ASCII")
    if (sig != "GIF87a" && sig != "GIF89a") return None
    val w = Bytes.u16le(b, 6)
    val h = Bytes.u16le(b, 8)
    if (w == 0 || h == 0) return None
    val depth = (((b(10) >> 4) & 0x07) + 1) // color resolution, bits/primary
    Some(ImageMeta("gif", w, h, depth))
  }

  /** BMP (BITMAPINFOHEADER): 'BM', then width/height as SIGNED i32
    * little-endian at offsets 18/22 (height may be negative = top-down
    * rows; magnitude is the pixel height), bit count u16 at 28. */
  def decodeBmp(b: Array[Byte]): Option[ImageMeta] = {
    if (b == null || b.length < 30) return None
    if (b(0) != 'B'.toByte || b(1) != 'M'.toByte) return None
    val hdrSize = Bytes.i32le(b, 14)
    if (hdrSize < 40) return None // BITMAPCOREHEADER etc. out of scope
    val w = Bytes.i32le(b, 18)
    val h = Bytes.i32le(b, 22)
    val bits = Bytes.u16le(b, 28)
    if (w <= 0 || h == 0) return None
    // BMP-legal bit counts only — a zero/garbage depth field is as
    // malformed as a zero dimension (the sibling decoders' discipline)
    if (bits != 1 && bits != 4 && bits != 8 && bits != 16 &&
      bits != 24 && bits != 32) return None
    Some(ImageMeta("bmp", w, math.abs(h), bits))
  }

  def decodePng(b: Array[Byte]): Option[ImageMeta] = {
    if (b == null || b.length < 8) return None
    var i = 0
    while (i < 8) { if (b(i) != PngSig(i)) return None; i += 1 }
    var off = 8
    // IHDR must be first per spec, but walk the chain anyway so a
    // spec-violating-but-parseable stream still yields its header
    while (off + 8 <= b.length) {
      val len = Bytes.u32be(b, off)
      // a declared length that cannot fit in the remaining buffer is
      // malformed — and advancing by it could overflow the Int offset
      // into negative territory (index crash, not a clean None)
      if (len < 0 || len > b.length - off - 8) return None
      val isIhdr = Bytes.u8(b, off + 4) == 'I' && Bytes.u8(b, off + 5) == 'H' &&
        Bytes.u8(b, off + 6) == 'D' && Bytes.u8(b, off + 7) == 'R'
      if (isIhdr) {
        if (len < 13 || off + 8 + 13 > b.length) return None
        val w = Bytes.u32be(b, off + 8)
        val h = Bytes.u32be(b, off + 12)
        val depth = Bytes.u8(b, off + 16)
        if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue)
          return None
        return Some(ImageMeta("png", w.toInt, h.toInt, depth))
      }
      off += 12 + len.toInt // length + type + payload + CRC
    }
    None
  }

  def decodeJpeg(b: Array[Byte]): Option[ImageMeta] = {
    if (b == null || b.length < 4 ||
      Bytes.u8(b, 0) != 0xff || Bytes.u8(b, 1) != 0xd8) return None
    var off = 2
    while (off + 2 <= b.length) {
      if (Bytes.u8(b, off) != 0xff) return None
      var mOff = off + 1
      // fill bytes: any number of 0xFF may pad before the marker id
      while (mOff < b.length && Bytes.u8(b, mOff) == 0xff) mOff += 1
      if (mOff >= b.length) return None
      val marker = Bytes.u8(b, mOff)
      if (marker == 0xd9 || marker == 0xda) return None // EOI/SOS: no SOF seen
      if ((marker >= 0xd0 && marker <= 0xd7) || marker == 0x01) {
        off = mOff + 1 // RSTn / TEM: standalone, no length field
      } else {
        if (mOff + 3 > b.length) return None // need the u16 length field
        val len = Bytes.u16be(b, mOff + 1)
        if (len < 2) return None
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof) {
          // segment payload: precision u8, height u16, width u16, ncomp u8
          if (mOff + 3 + 5 > b.length) return None
          val depth = Bytes.u8(b, mOff + 3)
          val h = Bytes.u16be(b, mOff + 4)
          val w = Bytes.u16be(b, mOff + 6)
          if (w == 0 || h == 0) return None
          val fmt = if (marker == 0xc2) "jpeg_progressive" else "jpeg"
          return Some(ImageMeta(fmt, w, h, depth))
        }
        off = mOff + 1 + len
      }
    }
    None
  }

  // ------------------------------------------------------------------
  // fixture emitters — real byte layouts (valid signatures, chunk CRCs,
  // segment lengths) so the decoder is exercised against the formats it
  // claims to parse, not against a friendly mock
  // ------------------------------------------------------------------

  /** Minimal structurally-valid PNG: signature, IHDR (8-bit truecolor),
    * one IDAT carrying `payload` verbatim (header parsing never inflates
    * it), IEND. Chunk CRCs are real CRC32s over type+payload. */
  def encodePng(width: Int, height: Int, bitDepth: Int,
      payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(payload.length + 64)
    out.write(PngSig, 0, PngSig.length)
    val ihdr = new Array[Byte](13)
    Bytes.putBe32(ihdr, 0, width); Bytes.putBe32(ihdr, 4, height)
    ihdr(8) = bitDepth.toByte; ihdr(9) = 2 // color type 2 = truecolor
    Pixels.writeChunk(out, "IHDR", ihdr)
    Pixels.writeChunk(out, "IDAT", payload)
    Pixels.writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Minimal structurally-valid baseline JPEG header stream: SOI, APP0
    * (JFIF 1.1), a COM segment carrying `comment` (variable length — the
    * walker must hop it to reach SOF), SOF0 (3 components), EOI. No scan
    * data: header-only, which is all the decoder reads. */
  /** Longest COM payload one segment can carry: the u16 length field
    * includes itself, so 65535 − 2. Longer fixture text TRUNCATES here
    * (not throws): an executor-side require on document size would fail
    * the whole query at larger fixture scales, the opposite of the
    * decode path's corrupt-blob-yields-NULL posture. Oracle length
    * formulas use LEAST(len, 65533) to stay in sync. */
  val MaxComBytes = 65533

  def encodeJpeg(width: Int, height: Int, precision: Int,
      rawComment: Array[Byte]): Array[Byte] = {
    // a longer comment would silently wrap the u16 length mod 65536 and
    // land the marker walk inside the comment body — clamp instead
    val comment =
      if (rawComment.length <= MaxComBytes) rawComment
      else rawComment.take(MaxComBytes)
    require(width >= 1 && width <= 65535 && height >= 1 && height <= 65535,
      s"JPEG dimensions are u16: got ${width}x$height")
    val out = new ByteArrayOutputStream(comment.length + 64)
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8) // SOI
    marker(0xe0) // APP0
    val jfif = Array[Byte]('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
    out.write(0); out.write(jfif.length + 2) // length 16
    out.write(jfif, 0, jfif.length)
    marker(0xfe) // COM
    val clen = comment.length + 2
    out.write((clen >> 8) & 0xff); out.write(clen & 0xff)
    out.write(comment, 0, comment.length)
    marker(0xc0) // SOF0
    val ncomp = 3
    val slen = 8 + 3 * ncomp // 17
    out.write((slen >> 8) & 0xff); out.write(slen & 0xff)
    out.write(precision)
    out.write((height >> 8) & 0xff); out.write(height & 0xff)
    out.write((width >> 8) & 0xff); out.write(width & 0xff)
    out.write(ncomp)
    var c = 1
    while (c <= ncomp) { // id, sampling 0x11, quant table 0
      out.write(c); out.write(0x11); out.write(0); c += 1
    }
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Minimal structurally-valid WEBP stream: RIFF/WEBP container, an
    * 'EXIF' metadata chunk carrying `note` (variable length, odd sizes
    * padded — the LE chunk walk must hop it to reach the image chunk),
    * then one image chunk per `variant`:
    *  - "vp8":  10-byte lossy keyframe header (3-byte frame tag, start
    *    code 9D 01 2A, u16 LE dims) — dims ≤ 16383;
    *  - "vp8l": 5-byte lossless header (0x2F + dim bitfield, version 0)
    *    + 1 pad byte — dims ≤ 16384;
    *  - "vp8x": 10-byte extended header (flags + 24-bit LE canvas
    *    dims − 1) — dims ≤ 2^24.
    * Stream length = 12 + 8 + |note| + |note|%2 + (18 | 14 | 18) — the
    * formula the q238 oracle replays. */
  def encodeWebp(variant: String, width: Int, height: Int,
      note: Array[Byte]): Array[Byte] = {
    val dimCap = variant match {
      case "vp8" => 0x3fff
      case "vp8l" => 0x4000
      case "vp8x" => 1 << 24
      case v => throw new IllegalArgumentException(s"unknown variant $v")
    }
    require(width >= 1 && width <= dimCap && height >= 1 && height <= dimCap,
      s"$variant dims limited to $dimCap, got ${width}x$height")
    val out = new ByteArrayOutputStream(note.length + 48)
    def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"), 0, 4)
    val noteChunk = 8 + note.length + (note.length & 1)
    val imgChunk = variant match {
      case "vp8" => 18; case "vp8l" => 14; case "vp8x" => 18
    }
    ascii("RIFF"); Bytes.le32(out, 4L + noteChunk + imgChunk); ascii("WEBP")
    ascii("EXIF"); Bytes.le32(out, note.length.toLong)
    out.write(note, 0, note.length)
    if ((note.length & 1) == 1) out.write(0) // RIFF even padding
    variant match {
      case "vp8" =>
        ascii("VP8 "); Bytes.le32(out, 10L)
        out.write(0x30); out.write(0); out.write(0) // frame tag (keyframe)
        out.write(0x9d); out.write(0x01); out.write(0x2a) // start code
        Bytes.le16(out, width); Bytes.le16(out, height)
      case "vp8l" =>
        ascii("VP8L"); Bytes.le32(out, 5L)
        out.write(0x2f)
        Bytes.le32(out, ((width - 1).toLong & 0x3fff) |
          (((height - 1).toLong & 0x3fff) << 14))
        out.write(0) // 5 is odd: RIFF even padding
      case "vp8x" =>
        ascii("VP8X"); Bytes.le32(out, 10L)
        Bytes.le32(out, 0L) // flags + reserved
        Bytes.le24(out, width - 1); Bytes.le24(out, height - 1)
    }
    out.toByteArray
  }

}
