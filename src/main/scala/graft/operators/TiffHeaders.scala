package graft.operators

import java.io.ByteArrayOutputStream

import graft.codec.Bytes

/** Pure-JVM TIFF / EXIF header codec: parse (and, for fixtures, emit)
  * the IFD structure of TIFF streams (public spec, TIFF 6.0 — Adobe) and
  * the EXIF APP1 segment of JPEG streams (public spec, CIPA DC-008,
  * which embeds a TIFF IFD verbatim) — no codec libraries, no native
  * deps. Completes [[ImageHeaders]]' format set: TIFF is the scan/
  * archival format of a document-heavy crawl, and EXIF orientation is
  * the field an image-curation pipeline must honor before any
  * resize/crop (a 90°-rotated photo has its dims swapped at render).
  *
  * TIFF layout: 2-byte order mark ('II' little / 'MM' big endian),
  * u16 magic 42, u32 offset to IFD0. An IFD is a u16 entry count then
  * 12-byte entries (tag u16, type u16, count u32, value-or-offset u32)
  * sorted ascending by tag, then a u32 next-IFD offset. A value whose
  * byte size fits in 4 bytes sits INLINE left-justified in the value
  * field; otherwise the field is an offset to the values elsewhere in
  * the stream — both shapes exercised here (BitsPerSample count 3 is
  * offset-valued, count 1 inline).
  *
  * Decode failures return None — one corrupt blob must not kill a
  * corpus-scale pass. Offset math is Long against hostile declared
  * counts/offsets (the [[AudioHeaders]] discipline).
  */
object TiffHeaders {

  import ImageHeaders.ImageMeta

  /** EXIF metadata pulled from a JPEG APP1 segment. `orientation` is
    * the TIFF tag 274 value (1 = upright … 8 = rotate-270), the field
    * a resize/crop stage must honor; `make` is tag 271 (ASCII,
    * NUL-terminated in the stream). */
  final case class ExifMeta(orientation: Int, make: Option[String])

  /** One GPS coordinate out of the EXIF GPS sub-IFD: the hemisphere
    * ref ('N'/'S' for latitude, 'E'/'W' for longitude) and the three
    * RATIONALs (degrees, minutes, seconds) exactly as stored — six
    * longs `num/den` per component, no lossy pre-division, so a caller
    * can replay the decimal-degree arithmetic (or keep exact). */
  final case class GpsCoord(ref: String,
      degNum: Long, degDen: Long,
      minNum: Long, minDen: Long,
      secNum: Long, secDen: Long) {
    /** Unsigned decimal degrees; the ref supplies the sign. */
    def decimalDegrees: Double =
      degNum.toDouble / degDen + minNum.toDouble / minDen / 60.0 +
        secNum.toDouble / secDen / 3600.0
    /** Signed decimal degrees (S/W negative per convention). */
    def signedDecimalDegrees: Double =
      if (ref == "S" || ref == "W") -decimalDegrees else decimalDegrees
  }

  /** Full EXIF parse: IFD0 orientation/make, the GPS sub-IFD (tag
    * 0x8825 pointer; lat/lon present only when all four GPS tags 1-4
    * parse), the Exif sub-IFD's capture timestamp (tag 0x8769 pointer
    * → DateTimeOriginal 0x9003 "YYYY:MM:DD HH:MM:SS" +
    * SubSecTimeOriginal 0x9291 — the fields temporal curation cuts
    * on), and the IFD1 thumbnail (tags 513/514, a complete JPEG
    * stream sliced out of the APP1 payload). */
  final case class ExifFull(orientation: Int, make: Option[String],
      lat: Option[GpsCoord], lon: Option[GpsCoord],
      thumbnail: Option[Array[Byte]],
      dateTimeOriginal: Option[String] = None,
      subSecOriginal: Option[String] = None)

  /** TIFF header sniff-and-parse to IFD0's dimension tags. Only IFD0 is
    * walked — ImageWidth(256)/ImageLength(257)/BitsPerSample(258) live
    * there per spec; thumbnail IFDs that follow are irrelevant to a
    * filter pass. `bitDepth` is the first BitsPerSample value (equal
    * across channels in practice; the spec stores one per sample). */
  def decodeTiff(b: Array[Byte]): Option[ImageMeta] = {
    if (b == null || b.length < 8) return None
    val be =
      if (b(0) == 'M' && b(1) == 'M') true
      else if (b(0) == 'I' && b(1) == 'I') false
      else return None
    if (Bytes.u16(b, 2, be) != 42) return None
    val ifdOff = Bytes.u32(b, 4, be)
    parseIfd0(b, ifdOff, be).flatMap { tags =>
      for {
        w <- tags.get(256)
        h <- tags.get(257)
      } yield {
        // TIFF 6.0 declares BitsPerSample OPTIONAL with default 1 — a
        // bilevel fax/scan (exactly the document-crawl TIFF) commonly
        // omits it; requiring the tag would misroute those as text
        val bps = tags.getOrElse(258, 1L)
        if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue ||
          bps <= 0) return None
        ImageMeta("tiff", w.toInt, h.toInt, bps.toInt)
      }
    }
  }

  /** IFD0 entry scan → tag → first scalar value. SHORT(3)/LONG(4)
    * honored; a multi-value SHORT follows its offset to the first
    * element (ASCII and other types are skipped here — [[exifIfd0]]
    * reads strings). None = structurally malformed. */
  private def parseIfd0(b: Array[Byte], ifdOff: Long,
      be: Boolean): Option[Map[Int, Long]] = {
    if (ifdOff < 8 || ifdOff + 2 > b.length) return None
    val n = Bytes.u16(b, ifdOff, be)
    if (ifdOff + 2 + 12L * n + 4 > b.length) return None
    var tags = Map.empty[Int, Long]
    var i = 0
    while (i < n) {
      val e = ifdOff + 2 + 12L * i
      val tag = Bytes.u16(b, e, be)
      val typ = Bytes.u16(b, e + 2, be)
      val cnt = Bytes.u32(b, e + 4, be)
      if (cnt >= 1) {
        // inline if the value bytes fit the 4-byte field (left-justified
        // in stream order, so the FIRST element is always at e+8)
        val elemSize = typ match {
          case 1 => 1L; case 3 => 2L; case 4 => 4L; case _ => 0L
        }
        if (elemSize > 0) {
          val inline = elemSize * cnt <= 4
          val at = if (inline) e + 8 else Bytes.u32(b, e + 8, be)
          if (at < 0 || at + elemSize > b.length) return None
          val v = typ match {
            case 1 => (b(at.toInt) & 0xff).toLong
            case 3 => Bytes.u16(b, at, be).toLong
            case 4 => Bytes.u32(b, at, be)
          }
          tags += tag -> v
        }
      }
      i += 1
    }
    Some(tags)
  }

  /** ASCII tag read (type 2, count includes the terminating NUL):
    * inline if count ≤ 4, else offset-valued. */
  private def asciiTag(b: Array[Byte], ifdOff: Long, be: Boolean,
      wantTag: Int): Option[String] = {
    if (ifdOff < 8 || ifdOff + 2 > b.length) return None
    val n = Bytes.u16(b, ifdOff, be)
    if (ifdOff + 2 + 12L * n + 4 > b.length) return None
    var i = 0
    while (i < n) {
      val e = ifdOff + 2 + 12L * i
      if (Bytes.u16(b, e, be) == wantTag && Bytes.u16(b, e + 2, be) == 2) {
        val cnt = Bytes.u32(b, e + 4, be)
        if (cnt < 1) return None
        val at = if (cnt <= 4) e + 8 else Bytes.u32(b, e + 8, be)
        if (at < 0 || at + cnt > b.length) return None
        // count includes the NUL; tolerate a missing one
        val end = if (b((at + cnt - 1).toInt) == 0) cnt - 1 else cnt
        return Some(new String(b, at.toInt, end.toInt, "US-ASCII"))
      }
      i += 1
    }
    None
  }

  /** JPEG EXIF parse: walk the marker segments (the [[ImageHeaders]]
    * discipline — fill bytes tolerated, RSTn/TEM standalone) to the
    * first APP1 whose payload leads with "Exif\0\0", then parse the
    * embedded TIFF stream in place for Orientation(274) / Make(271).
    * SOS/EOI before any EXIF APP1 ⇒ None (scan data is opaque). */
  def decodeJpegExif(b: Array[Byte]): Option[ExifMeta] =
    exifTiffSlice(b).flatMap(exifFromTiff)

  /** Orientation/Make out of a BARE TIFF stream — the payload shape
    * shared by JPEG APP1 (after "Exif\0\0") and PNG's eXIf chunk
    * (which embeds the TIFF with no prefix at all, PNG spec §11.3.4). */
  def exifFromTiff(tiff: Array[Byte]): Option[ExifMeta] = {
    if (tiff == null || tiff.length < 8) return None
    val be =
      if (tiff(0) == 'M' && tiff(1) == 'M') true
      else if (tiff(0) == 'I' && tiff(1) == 'I') false
      else return None
    if (Bytes.u16(tiff, 2, be) != 42) return None
    val ifdOff = Bytes.u32(tiff, 4, be)
    val tags = parseIfd0(tiff, ifdOff, be).getOrElse(return None)
    val orient = tags.getOrElse(274, 1L) // EXIF default: upright
    if (orient < 1 || orient > 8) return None
    Some(ExifMeta(orient.toInt, asciiTag(tiff, ifdOff, be, 271)))
  }

  /** Bare EXIF TIFF emitter (the [[encodeJpegExif]] APP1 payload
    * without the JPEG wrapping): header + IFD0 with Make (ASCII,
    * inline when it fits, offset-valued otherwise) and Orientation.
    * Byte length = 8 + 30 + (|make|+1 > 4 ? |make|+1 : 0). */
  def encodeExifTiff(orientation: Int, make: String,
      bigEndian: Boolean): Array[Byte] = {
    require(orientation >= 1 && orientation <= 8,
      s"EXIF orientation is 1..8: $orientation")
    val makeBytes = make.getBytes("US-ASCII")
    val makeCnt = makeBytes.length + 1
    val out = new ByteArrayOutputStream(48 + makeCnt)
    if (bigEndian) { out.write('M'); out.write('M') }
    else { out.write('I'); out.write('I') }
    Bytes.write16(out, 42, bigEndian); Bytes.write32(out, 8L, bigEndian)
    Bytes.write16(out, 2, bigEndian)
    Bytes.write16(out, 271, bigEndian); Bytes.write16(out, 2, bigEndian)
    Bytes.write32(out, makeCnt.toLong, bigEndian)
    if (makeCnt <= 4) {
      out.write(makeBytes, 0, makeBytes.length); out.write(0)
      var pad = 4 - makeCnt
      while (pad > 0) { out.write(0); pad -= 1 }
    } else Bytes.write32(out, 8L + 30L, bigEndian)
    Bytes.write16(out, 274, bigEndian); Bytes.write16(out, 3, bigEndian)
    Bytes.write32(out, 1L, bigEndian); Bytes.write16(out, orientation, bigEndian)
    Bytes.write16(out, 0, bigEndian)
    Bytes.write32(out, 0L, bigEndian)
    if (makeCnt > 4) { out.write(makeBytes, 0, makeBytes.length); out.write(0) }
    out.toByteArray
  }

  /** Marker walk to the first APP1 whose payload leads with
    * "Exif\0\0"; returns the embedded TIFF stream SLICED out so its
    * internal offsets (relative to the TIFF origin per CIPA DC-008)
    * need no rebasing. SOS/EOI before any EXIF APP1 ⇒ None. */
  private def exifTiffSlice(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null || b.length < 4 ||
      (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    var off = 2
    while (off + 2 <= b.length) {
      if ((b(off) & 0xff) != 0xff) return None
      var mOff = off + 1
      while (mOff < b.length && (b(mOff) & 0xff) == 0xff) mOff += 1
      if (mOff >= b.length) return None
      val marker = b(mOff) & 0xff
      if (marker == 0xd9 || marker == 0xda) return None // EOI / SOS
      if ((marker >= 0xd0 && marker <= 0xd7) || marker == 0x01) {
        off = mOff + 1
      } else {
        if (mOff + 3 > b.length) return None
        val len = Bytes.u16be(b, mOff + 1)
        if (len < 2 || mOff + 1 + len > b.length) return None
        if (marker == 0xe1 && len >= 2 + 6 + 8 &&
          b(mOff + 3) == 'E' && b(mOff + 4) == 'x' && b(mOff + 5) == 'i' &&
          b(mOff + 6) == 'f' && b(mOff + 7) == 0 && b(mOff + 8) == 0) {
          val tiff = java.util.Arrays.copyOfRange(b, mOff + 9, mOff + 1 + len)
          if (tiff.length < 8) return None
          return Some(tiff)
        }
        off = mOff + 1 + len
      }
    }
    None
  }

  /** Raw IFD entry: the value FIELD offset (e+8) is kept so typed
    * readers can apply the inline-vs-offset rule per type. */
  private final case class IfdEntry(tag: Int, typ: Int, cnt: Long,
      fieldOff: Long)

  /** Structural IFD walk: entries + the next-IFD offset (0 = none).
    * Unlike [[parseIfd0]] this keeps every entry untyped so RATIONAL
    * and sub-IFD pointers can be resolved by the caller. */
  private def ifdEntries(b: Array[Byte], ifdOff: Long,
      be: Boolean): Option[(Array[IfdEntry], Long)] = {
    if (ifdOff < 8 || ifdOff + 2 > b.length) return None
    val n = Bytes.u16(b, ifdOff, be)
    if (ifdOff + 2 + 12L * n + 4 > b.length) return None
    val out = new Array[IfdEntry](n)
    var i = 0
    while (i < n) {
      val e = ifdOff + 2 + 12L * i
      out(i) = IfdEntry(Bytes.u16(b, e, be), Bytes.u16(b, e + 2, be),
        Bytes.u32(b, e + 4, be), e + 8)
      i += 1
    }
    Some((out, Bytes.u32(b, ifdOff + 2 + 12L * n, be)))
  }

  /** First scalar of a SHORT(3)/LONG(4) entry (inline rule honored). */
  private def scalarOf(b: Array[Byte], e: IfdEntry,
      be: Boolean): Option[Long] = {
    if (e.cnt < 1) return None
    val elemSize = e.typ match { case 3 => 2L; case 4 => 4L; case _ => 0L }
    if (elemSize == 0) return None
    val at = if (elemSize * e.cnt <= 4) e.fieldOff else Bytes.u32(b, e.fieldOff, be)
    if (at < 0 || at + elemSize > b.length) return None
    Some(if (e.typ == 3) Bytes.u16(b, at, be).toLong else Bytes.u32(b, at, be))
  }

  /** ASCII entry (type 2, count includes the NUL; inline if ≤ 4). */
  private def asciiOf(b: Array[Byte], e: IfdEntry,
      be: Boolean): Option[String] = {
    if (e.typ != 2 || e.cnt < 1) return None
    val at = if (e.cnt <= 4) e.fieldOff else Bytes.u32(b, e.fieldOff, be)
    if (at < 0 || at + e.cnt > b.length) return None
    val end = if (b((at + e.cnt - 1).toInt) == 0) e.cnt - 1 else e.cnt
    Some(new String(b, at.toInt, end.toInt, "US-ASCII"))
  }

  /** RATIONAL (type 5) triple — 3 × (u32 num, u32 den), 24 bytes, by
    * size always offset-valued. Zero denominators reject the entry
    * (hostile or corrupt stream), per the decode-to-None discipline. */
  private def rational3Of(b: Array[Byte], e: IfdEntry,
      be: Boolean): Option[Array[Long]] = {
    if (e.typ != 5 || e.cnt != 3) return None
    val at = Bytes.u32(b, e.fieldOff, be)
    if (at < 0 || at + 24 > b.length) return None
    val v = new Array[Long](6)
    var i = 0
    while (i < 3) {
      v(2 * i) = Bytes.u32(b, at + 8L * i, be)
      v(2 * i + 1) = Bytes.u32(b, at + 8L * i + 4, be)
      if (v(2 * i + 1) == 0) return None
      i += 1
    }
    Some(v)
  }

  /** GPS sub-IFD parse: tags 1/2 (latitude ref + RATIONAL×3) and 3/4
    * (longitude). A coordinate surfaces only when both its ref and its
    * rationals parse — half-present GPS blocks yield None for that
    * axis rather than a fabricated hemisphere. */
  private def gpsIfd(b: Array[Byte], gpsOff: Long,
      be: Boolean): (Option[GpsCoord], Option[GpsCoord]) = {
    val (entries, _) = ifdEntries(b, gpsOff, be).getOrElse(return (None, None))
    def coord(refTag: Int, valTag: Int): Option[GpsCoord] =
      for {
        refE <- entries.find(_.tag == refTag)
        ref <- asciiOf(b, refE, be)
        if ref == "N" || ref == "S" || ref == "E" || ref == "W"
        valE <- entries.find(_.tag == valTag)
        r <- rational3Of(b, valE, be)
      } yield GpsCoord(ref, r(0), r(1), r(2), r(3), r(4), r(5))
    (coord(1, 2), coord(3, 4))
  }

  /** Full EXIF walk: IFD0 (orientation 274, make 271, GPS pointer
    * 0x8825) → GPS sub-IFD → next-IFD (IFD1) thumbnail via
    * JPEGInterchangeFormat(513)/-Length(514). The thumbnail is sliced
    * out of the TIFF stream bounds-checked — a hostile offset/length
    * pair yields no thumbnail, never an exception. Orientation out of
    * 1..8 rejects the stream (same contract as [[decodeJpegExif]]). */
  def decodeJpegExifFull(b: Array[Byte]): Option[ExifFull] = {
    val tiff = exifTiffSlice(b).getOrElse(return None)
    val be =
      if (tiff(0) == 'M' && tiff(1) == 'M') true
      else if (tiff(0) == 'I' && tiff(1) == 'I') false
      else return None
    if (Bytes.u16(tiff, 2, be) != 42) return None
    val ifdOff = Bytes.u32(tiff, 4, be)
    val (entries, nextIfd) = ifdEntries(tiff, ifdOff, be).getOrElse(return None)
    val orient = entries.find(_.tag == 274)
      .flatMap(scalarOf(tiff, _, be)).getOrElse(1L)
    if (orient < 1 || orient > 8) return None
    val make = entries.find(_.tag == 271).flatMap(asciiOf(tiff, _, be))
    val (lat, lon) = entries.find(_.tag == 0x8825)
      .flatMap(scalarOf(tiff, _, be)) match {
      case Some(gpsOff) => gpsIfd(tiff, gpsOff, be)
      case None => (None, None)
    }
    // Exif sub-IFD: capture timestamp (ASCII, 20 bytes incl. NUL per
    // spec) + sub-second digits. A malformed sub-IFD drops the fields,
    // not the stream — the GPS half-present discipline.
    val (dto, subSec) = entries.find(_.tag == 0x8769)
      .flatMap(scalarOf(tiff, _, be))
      .flatMap(off => ifdEntries(tiff, off, be)) match {
      case Some((sub, _)) =>
        (sub.find(_.tag == 0x9003).flatMap(asciiOf(tiff, _, be)),
          sub.find(_.tag == 0x9291).flatMap(asciiOf(tiff, _, be)))
      case None => (None, None)
    }
    val thumb = for {
      (ifd1, _) <- ifdEntries(tiff, nextIfd, be)
      offE <- ifd1.find(_.tag == 513)
      off <- scalarOf(tiff, offE, be)
      lenE <- ifd1.find(_.tag == 514)
      len <- scalarOf(tiff, lenE, be)
      if off >= 8 && len >= 4 && off + len <= tiff.length
    } yield java.util.Arrays.copyOfRange(tiff, off.toInt, (off + len).toInt)
    Some(ExifFull(orient.toInt, make, lat, lon, thumb, dto, subSec))
  }

  // ------------------------------------------------------------------
  // fixture emitters — real IFD layouts (computed offsets, ascending
  // tags, inline vs offset-valued fields) so the decoder is exercised
  // against the structures it claims to parse
  // ------------------------------------------------------------------

  /** Minimal structurally-valid TIFF: header, `note` verbatim (the IFD
    * offset must JUMP it — offsets vary with the note), IFD0 with
    * ImageWidth/ImageLength (LONG), BitsPerSample (samples=3: three
    * SHORTs offset-valued AFTER the IFD; samples=1: inline), and
    * SamplesPerPixel. Stream length = 8 + |note| + 54 + (samples==3 ?
    * 6 : 0) — the formula the q258 oracle replays. */
  def encodeTiff(width: Int, height: Int, bitsPerSample: Int,
      samples: Int, bigEndian: Boolean, note: Array[Byte]): Array[Byte] = {
    require(width >= 1 && height >= 1, s"dims must be positive: ${width}x$height")
    require(samples == 1 || samples == 3, s"samples must be 1 or 3: $samples")
    require(bitsPerSample >= 1 && bitsPerSample <= 0xffff,
      "BitsPerSample is SHORT")
    val out = new ByteArrayOutputStream(note.length + 72)
    // header
    if (bigEndian) { out.write('M'); out.write('M') }
    else { out.write('I'); out.write('I') }
    Bytes.write16(out, 42, bigEndian)
    val ifdOff = 8L + note.length
    Bytes.write32(out, ifdOff, bigEndian)
    out.write(note, 0, note.length)
    // IFD0: 4 entries, ascending tags
    val ifdBytes = 2 + 4 * 12 + 4
    Bytes.write16(out, 4, bigEndian)
    def entry(tag: Int, typ: Int, cnt: Long)(value: => Unit): Unit = {
      Bytes.write16(out, tag, bigEndian); Bytes.write16(out, typ, bigEndian)
      Bytes.write32(out, cnt, bigEndian); value
    }
    entry(256, 4, 1)(Bytes.write32(out, width.toLong, bigEndian)) // ImageWidth LONG
    entry(257, 4, 1)(Bytes.write32(out, height.toLong, bigEndian)) // ImageLength LONG
    if (samples == 1)
      entry(258, 3, 1) { Bytes.write16(out, bitsPerSample, bigEndian)
      Bytes.write16(out, 0, bigEndian) } // inline SHORT
    else
      entry(258, 3, 3)(Bytes.write32(out, ifdOff + ifdBytes, bigEndian)) // offset past the IFD
    entry(277, 3, 1) { Bytes.write16(out, samples, bigEndian)
    Bytes.write16(out, 0, bigEndian) } // SamplesPerPixel
    Bytes.write32(out, 0, bigEndian) // next IFD: none
    if (samples == 3) { Bytes.write16(out, bitsPerSample, bigEndian)
    Bytes.write16(out, bitsPerSample, bigEndian); Bytes.write16(out, bitsPerSample, bigEndian) }
    out.toByteArray
  }

  /** Minimal structurally-valid JPEG with an EXIF APP1: SOI, APP1
    * ("Exif\0\0" + a little/big-endian TIFF carrying Make(271, ASCII,
    * offset-valued) + Orientation(274, SHORT, inline)), a COM segment
    * carrying `comment` (the marker walk must hop it), SOF0, EOI. The
    * stream also decodes as a plain JPEG via [[ImageHeaders.decodeJpeg]].
    * Stream length = 2 + (49 + |make|) + 4 + min(|comment|, 65533)
    * + 19 + 2 — the formula the q259 oracle replays. */
  def encodeJpegExif(width: Int, height: Int, orientation: Int,
      make: String, bigEndian: Boolean, rawComment: Array[Byte]): Array[Byte] = {
    require(width >= 1 && width <= 65535 && height >= 1 && height <= 65535,
      s"JPEG dimensions are u16: got ${width}x$height")
    require(orientation >= 1 && orientation <= 8,
      s"EXIF orientation is 1..8: $orientation")
    val comment =
      if (rawComment.length <= ImageHeaders.MaxComBytes) rawComment
      else rawComment.take(ImageHeaders.MaxComBytes)
    val makeBytes = make.getBytes("US-ASCII")
    val out = new ByteArrayOutputStream(comment.length + makeBytes.length + 96)
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8) // SOI
    // APP1: Exif\0\0 + TIFF(hdr 8 + IFD 2+2*12+4 + make+NUL when the
    // ASCII value doesn't fit the entry's 4-byte field inline)
    val tiffLen = 8 + 30 +
      (if (makeBytes.length + 1 <= 4) 0 else makeBytes.length + 1)
    marker(0xe1)
    Bytes.be16(out, 2 + 6 + tiffLen)
    out.write("Exif".getBytes("US-ASCII"), 0, 4); out.write(0); out.write(0)
    if (bigEndian) { out.write('M'); out.write('M') }
    else { out.write('I'); out.write('I') }
    Bytes.write16(out, 42, bigEndian)
    Bytes.write32(out, 8L, bigEndian) // IFD0 immediately after the header
    Bytes.write16(out, 2, bigEndian) // two entries, ascending tags: 271 then 274
    val makeCnt = makeBytes.length + 1 // ASCII count includes the NUL
    Bytes.write16(out, 271, bigEndian); Bytes.write16(out, 2, bigEndian)
    Bytes.write32(out, makeCnt.toLong, bigEndian)
    if (makeCnt <= 4) {
      // spec inline rule: value bytes fill the field left-justified
      out.write(makeBytes, 0, makeBytes.length); out.write(0)
      var pad = 4 - makeCnt
      while (pad > 0) { out.write(0); pad -= 1 }
    } else Bytes.write32(out, 8L + 30L, bigEndian) // offset past the IFD
    Bytes.write16(out, 274, bigEndian); Bytes.write16(out, 3, bigEndian)
    Bytes.write32(out, 1L, bigEndian); Bytes.write16(out, orientation, bigEndian)
    Bytes.write16(out, 0, bigEndian)
    Bytes.write32(out, 0L, bigEndian) // next IFD: none
    if (makeCnt > 4) { out.write(makeBytes, 0, makeBytes.length); out.write(0) }
    // COM the walk must hop
    marker(0xfe)
    Bytes.be16(out, comment.length + 2)
    out.write(comment, 0, comment.length)
    // SOF0 (3 components) — same shape as ImageHeaders.encodeJpeg
    marker(0xc0)
    Bytes.be16(out, 8 + 3 * 3)
    out.write(8)
    Bytes.be16(out, height); Bytes.be16(out, width)
    out.write(3)
    var c = 1
    while (c <= 3) { out.write(c); out.write(0x11); out.write(0); c += 1 }
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Fixture emitter for the Exif sub-IFD timestamp walk: a byte-valid
    * JPEG whose APP1 TIFF carries IFD0 [Make offset-valued, Orientation
    * inline, ExifIFD(0x8769) pointer] and an Exif sub-IFD with
    * DateTimeOriginal (ASCII, exactly 20 bytes incl. NUL per spec,
    * offset-valued) and SubSecTimeOriginal (≤3 digits → inline).
    * Layout: hdr 8, IFD0 42, make, sub-IFD 30, timestamp 20 → stream
    * length = 33 + 100 + |make|+1 — the q385 oracle's formula. */
  def encodeJpegExifDated(width: Int, height: Int, orientation: Int,
      make: String, bigEndian: Boolean, dateTime: String,
      subSec: String): Array[Byte] = {
    require(width >= 1 && width <= 65535 && height >= 1 && height <= 65535,
      s"JPEG dimensions are u16: got ${width}x$height")
    require(orientation >= 1 && orientation <= 8,
      s"EXIF orientation is 1..8: $orientation")
    require(dateTime.length == 19,
      s"DateTimeOriginal is 'YYYY:MM:DD HH:MM:SS' (19 chars): $dateTime")
    require(subSec.nonEmpty && subSec.length <= 3 &&
      subSec.forall(_.isDigit), s"SubSecTimeOriginal 1-3 digits: $subSec")
    val makeBytes = make.getBytes("US-ASCII")
    val makeCnt = makeBytes.length + 1
    require(makeCnt > 4, "make must be offset-valued (>= 4 chars)")
    val out = new ByteArrayOutputStream(makeCnt + 160)
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8)
    val ifd0Off = 8L
    val makeOff = ifd0Off + 42
    val exifOff = makeOff + makeCnt
    val dtoOff = exifOff + 30
    val tiffLen = dtoOff + 20
    marker(0xe1)
    Bytes.be16(out, (2 + 6 + tiffLen).toInt)
    out.write("Exif".getBytes("US-ASCII"), 0, 4); out.write(0); out.write(0)
    if (bigEndian) { out.write('M'); out.write('M') }
    else { out.write('I'); out.write('I') }
    Bytes.write16(out, 42, bigEndian); Bytes.write32(out, ifd0Off, bigEndian)
    Bytes.write16(out, 3, bigEndian)
    Bytes.write16(out, 271, bigEndian); Bytes.write16(out, 2, bigEndian)
    Bytes.write32(out, makeCnt.toLong, bigEndian); Bytes.write32(out, makeOff, bigEndian)
    Bytes.write16(out, 274, bigEndian); Bytes.write16(out, 3, bigEndian)
    Bytes.write32(out, 1L, bigEndian); Bytes.write16(out, orientation, bigEndian)
    Bytes.write16(out, 0, bigEndian)
    Bytes.write16(out, 0x8769, bigEndian); Bytes.write16(out, 4, bigEndian)
    Bytes.write32(out, 1L, bigEndian); Bytes.write32(out, exifOff, bigEndian)
    Bytes.write32(out, 0L, bigEndian)
    out.write(makeBytes, 0, makeBytes.length); out.write(0)
    // Exif sub-IFD
    Bytes.write16(out, 2, bigEndian)
    Bytes.write16(out, 0x9003, bigEndian); Bytes.write16(out, 2, bigEndian)
    Bytes.write32(out, 20L, bigEndian); Bytes.write32(out, dtoOff, bigEndian)
    Bytes.write16(out, 0x9291, bigEndian); Bytes.write16(out, 2, bigEndian)
    Bytes.write32(out, subSec.length + 1L, bigEndian)
    out.write(subSec.getBytes("US-ASCII"), 0, subSec.length); out.write(0)
    var pad = 4 - (subSec.length + 1)
    while (pad > 0) { out.write(0); pad -= 1 }
    Bytes.write32(out, 0L, bigEndian)
    out.write(dateTime.getBytes("US-ASCII"), 0, 19); out.write(0)
    // SOF0 (3 components) + EOI — the family shape
    marker(0xc0)
    Bytes.be16(out, 8 + 3 * 3)
    out.write(8)
    Bytes.be16(out, height); Bytes.be16(out, width)
    out.write(3)
    var c = 1
    while (c <= 3) { out.write(c); out.write(0x11); out.write(0); c += 1 }
    marker(0xd9)
    out.toByteArray
  }

  /** Fixture emitter for the FULL EXIF walk: a byte-valid JPEG whose
    * APP1 TIFF carries IFD0 (Make offset-valued, Orientation inline,
    * GPSInfo(0x8825) sub-IFD pointer), a GPS IFD with hemisphere refs
    * (ASCII count-2, inline) and two RATIONAL×3 coordinate arrays
    * (offset-valued — 24 bytes each, the only shape type 5 can take),
    * and an IFD1 reached through IFD0's next-IFD pointer holding
    * JPEGInterchangeFormat(513)/-Length(514) over an embedded complete
    * JPEG thumbnail. Layout (TIFF-relative): hdr 8, IFD0 42, make,
    * GPS IFD 54, lat 24, lon 24, IFD1 30, thumbnail — so stream length
    * = 2 + (4 + 6 + 182 + |make|+1 + |thumb|) + 19 + 2, the formula
    * the q378 oracle replays. `make` must not fit inline (≥ 4 chars)
    * to keep one layout. */
  def encodeJpegExifGps(width: Int, height: Int, orientation: Int,
      make: String, bigEndian: Boolean,
      latRef: Char, latDeg: Long, latMin: Long,
      latSecNum: Long, latSecDen: Long,
      lonRef: Char, lonDeg: Long, lonMin: Long,
      lonSecNum: Long, lonSecDen: Long,
      thumb: Array[Byte]): Array[Byte] = {
    require(width >= 1 && width <= 65535 && height >= 1 && height <= 65535,
      s"JPEG dimensions are u16: got ${width}x$height")
    require(orientation >= 1 && orientation <= 8,
      s"EXIF orientation is 1..8: $orientation")
    require(latRef == 'N' || latRef == 'S', s"latitude ref: $latRef")
    require(lonRef == 'E' || lonRef == 'W', s"longitude ref: $lonRef")
    require(latSecDen > 0 && lonSecDen > 0, "denominators must be positive")
    val makeBytes = make.getBytes("US-ASCII")
    val makeCnt = makeBytes.length + 1
    require(makeCnt > 4, "make must be offset-valued (>= 4 chars)")
    val out = new ByteArrayOutputStream(thumb.length + makeCnt + 256)
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8) // SOI
    // TIFF-relative offsets, computed up front
    val ifd0Off = 8L
    val makeOff = ifd0Off + 42
    val gpsOff = makeOff + makeCnt
    val latOff = gpsOff + 54
    val lonOff = latOff + 24
    val ifd1Off = lonOff + 24
    val thumbOff = ifd1Off + 30
    val tiffLen = thumbOff + thumb.length
    require(2 + 6 + tiffLen <= 0xffff,
      s"APP1 segment overflows u16 length: thumbnail too large (${thumb.length} B)")
    marker(0xe1)
    Bytes.be16(out, (2 + 6 + tiffLen).toInt)
    out.write("Exif".getBytes("US-ASCII"), 0, 4); out.write(0); out.write(0)
    if (bigEndian) { out.write('M'); out.write('M') }
    else { out.write('I'); out.write('I') }
    Bytes.write16(out, 42, bigEndian); Bytes.write32(out, ifd0Off, bigEndian)
    // IFD0: Make, Orientation, GPSInfo pointer; next-IFD -> IFD1
    Bytes.write16(out, 3, bigEndian)
    Bytes.write16(out, 271, bigEndian); Bytes.write16(out, 2, bigEndian)
    Bytes.write32(out, makeCnt.toLong, bigEndian); Bytes.write32(out, makeOff, bigEndian)
    Bytes.write16(out, 274, bigEndian); Bytes.write16(out, 3, bigEndian)
    Bytes.write32(out, 1L, bigEndian); Bytes.write16(out, orientation, bigEndian)
    Bytes.write16(out, 0, bigEndian)
    Bytes.write16(out, 0x8825, bigEndian); Bytes.write16(out, 4, bigEndian)
    Bytes.write32(out, 1L, bigEndian); Bytes.write32(out, gpsOff, bigEndian)
    Bytes.write32(out, ifd1Off, bigEndian)
    out.write(makeBytes, 0, makeBytes.length); out.write(0)
    // GPS IFD: refs inline ("N\0" count 2, field zero-padded), coords
    // offset-valued RATIONAL x3
    Bytes.write16(out, 4, bigEndian)
    Bytes.write16(out, 1, bigEndian); Bytes.write16(out, 2, bigEndian)
    Bytes.write32(out, 2L, bigEndian); out.write(latRef); out.write(0)
    Bytes.write16(out, 0, bigEndian); // pad the 4-byte value field
    Bytes.write16(out, 2, bigEndian); Bytes.write16(out, 5, bigEndian)
    Bytes.write32(out, 3L, bigEndian); Bytes.write32(out, latOff, bigEndian)
    Bytes.write16(out, 3, bigEndian); Bytes.write16(out, 2, bigEndian)
    Bytes.write32(out, 2L, bigEndian); out.write(lonRef); out.write(0)
    Bytes.write16(out, 0, bigEndian)
    Bytes.write16(out, 4, bigEndian); Bytes.write16(out, 5, bigEndian)
    Bytes.write32(out, 3L, bigEndian); Bytes.write32(out, lonOff, bigEndian)
    Bytes.write32(out, 0L, bigEndian)
    def rat(num: Long, den: Long): Unit = { Bytes.write32(out, num, bigEndian)
    Bytes.write32(out, den, bigEndian) }
    rat(latDeg, 1); rat(latMin, 1); rat(latSecNum, latSecDen)
    rat(lonDeg, 1); rat(lonMin, 1); rat(lonSecNum, lonSecDen)
    // IFD1: thumbnail offset + length
    Bytes.write16(out, 2, bigEndian)
    Bytes.write16(out, 513, bigEndian); Bytes.write16(out, 4, bigEndian)
    Bytes.write32(out, 1L, bigEndian); Bytes.write32(out, thumbOff, bigEndian)
    Bytes.write16(out, 514, bigEndian); Bytes.write16(out, 4, bigEndian)
    Bytes.write32(out, 1L, bigEndian); Bytes.write32(out, thumb.length.toLong, bigEndian)
    Bytes.write32(out, 0L, bigEndian)
    out.write(thumb, 0, thumb.length)
    // SOF0 (3 components) + EOI — same shape as encodeJpegExif
    marker(0xc0)
    Bytes.be16(out, 8 + 3 * 3)
    out.write(8)
    Bytes.be16(out, height); Bytes.be16(out, width)
    out.write(3)
    var c = 1
    while (c <= 3) { out.write(c); out.write(0x11); out.write(0); c += 1 }
    marker(0xd9)
    out.toByteArray
  }
}
