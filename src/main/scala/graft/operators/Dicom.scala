package graft.operators

import java.io.ByteArrayOutputStream

import graft.codec.Bytes

/** DICOM Part 10 file sniff (public spec: NEMA PS3.10 file format +
  * PS3.5 encoding). Medical imaging is a first-class large-corpus
  * modality, and the Part 10 layout answers triage without decoding
  * pixel data: the 128-byte preamble + "DICM" magic, the File Meta
  * group (group 0002 — ALWAYS explicit-VR little-endian) carrying
  * the Transfer Syntax UID, and the main dataset's patient/series
  * tags (modality, rows/columns, patient name).
  *
  * Element encoding (explicit VR LE): (group u16, element u16), a
  * 2-char VR; short-form VRs carry a u16 length, the long-form set
  * (OB/OW/OF/SQ/UT/UN) a 2-byte pad + u32 length. The walk is
  * bounds-checked Long math throughout; odd structural states (a
  * dataset in implicit VR or big-endian per the transfer syntax UID,
  * or an undefined-length SQ/pixel-data element mid-walk) stop the
  * dataset walk but keep what parsed so far — the triage fields live
  * in meta + the common explicit-LE case this decoder supports. A
  * torn or malformed element, by contrast, rejects the file: corrupt
  * → None, never a silent partial.
  */
object Dicom {

  final case class DicomMeta(transferSyntax: String,
      mediaSopClass: Option[String], modality: Option[String],
      rows: Option[Int], cols: Option[Int], patientName: Option[String],
      nElements: Int)

  private val LongVrs = Set("OB", "OW", "OF", "SQ", "UT", "UN")
  /** Explicit VR little endian (the default for Part 10 datasets). */
  val ExplicitVrLe = "1.2.840.10008.1.2.1"

  /** One explicit-VR element at `off`: (group, elem, value offset,
    * value length, next offset). None = malformed/truncated. */
  private def elementAt(b: Array[Byte],
      off: Long): Option[(Int, Int, Long, Long, Long)] = {
    if (off + 8 > b.length) return None
    val group = Bytes.u16le(b, off.toInt)
    val elem = Bytes.u16le(b, off.toInt + 2)
    val vr = new String(b, off.toInt + 4, 2, "US-ASCII")
    if (!vr.forall(c => c >= 'A' && c <= 'Z')) return None
    val (vOff, vLen) =
      if (LongVrs.contains(vr)) {
        if (off + 12 > b.length) return None
        (off + 12, Bytes.u32le(b, off.toInt + 8))
      } else (off + 8, Bytes.u16le(b, off.toInt + 6).toLong)
    if (vLen < 0 || vOff + vLen > b.length) return None
    Some((group, elem, vOff, vLen, vOff + vLen))
  }

  /** True when the element at `off` is a long-form VR declaring the
    * undefined length 0xFFFFFFFF (PS3.5 §7.1.2 — SQ / encapsulated
    * pixel data). Such elements end the dataset walk (kept-partial),
    * never feed the bounds check. */
  private def isUndefinedLen(b: Array[Byte], off: Long): Boolean =
    off + 12 <= b.length && {
      val vr = new String(b, off.toInt + 4, 2, "US-ASCII")
      LongVrs.contains(vr) && Bytes.u32le(b, off.toInt + 8) == 0xFFFFFFFFL
    }

  private def str(b: Array[Byte], off: Long, len: Long): String = {
    // UI values are NUL-padded to even length, text VRs space-padded
    var end = (off + len).toInt
    while (end > off && (b(end - 1) == 0 || b(end - 1) == ' ')) end -= 1
    new String(b, off.toInt, end - off.toInt, "US-ASCII")
  }

  def decodeDicom(b: Array[Byte]): Option[DicomMeta] =
    try {
      if (b == null || b.length < 132 + 8) return None
      if (b(128) != 'D' || b(129) != 'I' || b(130) != 'C' ||
        b(131) != 'M') return None
      var off = 132L
      // File Meta group: (0002,0000) group length (UL) delimits it
      val first = elementAt(b, off).getOrElse(return None)
      if (first._1 != 2 || first._2 != 0 || first._4 != 4) return None
      val metaLen = Bytes.u32le(b, first._3.toInt)
      val metaEnd = first._5 + metaLen
      if (metaEnd > b.length) return None
      off = first._5
      var transferSyntax: Option[String] = None
      var sopClass: Option[String] = None
      var n = 1
      while (off < metaEnd) {
        val (g, e, vOff, vLen, next) =
          elementAt(b, off).getOrElse(return None)
        if (g != 2) return None // meta group must be homogeneous
        n += 1
        if (e == 0x0010) transferSyntax = Some(str(b, vOff, vLen))
        else if (e == 0x0002) sopClass = Some(str(b, vOff, vLen))
        off = next
      }
      val ts = transferSyntax.getOrElse(return None)
      var modality: Option[String] = None
      var rows: Option[Int] = None
      var cols: Option[Int] = None
      var patient: Option[String] = None
      if (ts == ExplicitVrLe) {
        var walking = true
        while (walking && off < b.length) {
          // undefined length (0xFFFFFFFF — standard for SQ and
          // encapsulated PixelData in real Part 10 files): the walk
          // cannot skip it without item-level SQ parsing; stop HERE and
          // keep the triage fields already read (the header-doc
          // degradation contract), rather than rejecting the file
          if (isUndefinedLen(b, off)) walking = false
          else elementAt(b, off) match {
            case Some((g, e, vOff, vLen, next)) =>
              n += 1
              if (g == 0x0008 && e == 0x0060)
                modality = Some(str(b, vOff, vLen))
              else if (g == 0x0010 && e == 0x0010)
                patient = Some(str(b, vOff, vLen))
              else if (g == 0x0028 && e == 0x0010 && vLen == 2)
                rows = Some(Bytes.u16le(b, vOff.toInt))
              else if (g == 0x0028 && e == 0x0011 && vLen == 2)
                cols = Some(Bytes.u16le(b, vOff.toInt))
              off = next
            // a malformed/truncated element rejects the whole file: a
            // silent partial on a torn blob would be plausible-wrong
            case None => return None
          }
        }
      }
      Some(DicomMeta(ts, sopClass, modality, rows, cols, patient, n))
    } catch { case _: Exception => None }

  /** Fixture emitter: preamble + DICM + File Meta (group length, SOP
    * class UID, transfer syntax UID) + an explicit-LE dataset with
    * modality (CS), patient name (PN), rows/cols (US), and an OB
    * pixel-data stub exercising the long-VR 12-byte header form. */
  def encodeDicom(sopClass: String, modality: String, patient: String,
      rows: Int, cols: Int, pixelBytes: Int): Array[Byte] = {
    require(rows >= 1 && rows <= 0xffff && cols >= 1 && cols <= 0xffff)
    require(pixelBytes >= 0 && pixelBytes % 2 == 0, "even value lengths")
    val out = new ByteArrayOutputStream(256 + pixelBytes)
    def pad(s: String): Array[Byte] = {
      val raw = s.getBytes("US-ASCII")
      if (raw.length % 2 == 0) raw else raw :+ 0.toByte // UI pads with NUL
    }
    def shortEl(group: Int, elem: Int, vr: String,
        value: Array[Byte]): Array[Byte] = {
      val o = new ByteArrayOutputStream(8 + value.length)
      Bytes.le16(o, group); Bytes.le16(o, elem)
      o.write(vr.getBytes("US-ASCII"), 0, 2)
      Bytes.le16(o, value.length)
      o.write(value, 0, value.length)
      o.toByteArray
    }
    out.write(new Array[Byte](128), 0, 128)
    out.write("DICM".getBytes("US-ASCII"), 0, 4)
    val metaBody = shortEl(2, 0x0002, "UI", pad(sopClass)) ++
      shortEl(2, 0x0010, "UI", pad(ExplicitVrLe))
    val groupLen = shortEl(2, 0x0000, "UL",
      Array[Byte]((metaBody.length & 0xff).toByte,
        ((metaBody.length >> 8) & 0xff).toByte,
        ((metaBody.length >> 16) & 0xff).toByte,
        ((metaBody.length >> 24) & 0xff).toByte))
    out.write(groupLen, 0, groupLen.length)
    out.write(metaBody, 0, metaBody.length)
    // dataset, ascending tag order per spec
    val mod = modality.getBytes("US-ASCII")
    val modPadded = if (mod.length % 2 == 0) mod else mod :+ ' '.toByte
    val pn = patient.getBytes("US-ASCII")
    val pnPadded = if (pn.length % 2 == 0) pn else pn :+ ' '.toByte
    val ds1 = shortEl(0x0008, 0x0060, "CS", modPadded) ++
      shortEl(0x0010, 0x0010, "PN", pnPadded) ++
      shortEl(0x0028, 0x0010, "US",
        Array[Byte]((rows & 0xff).toByte, ((rows >> 8) & 0xff).toByte)) ++
      shortEl(0x0028, 0x0011, "US",
        Array[Byte]((cols & 0xff).toByte, ((cols >> 8) & 0xff).toByte))
    out.write(ds1, 0, ds1.length)
    // (7FE0,0010) PixelData OB: long-form 12-byte header
    Bytes.le16(out, 0x7fe0); Bytes.le16(out, 0x0010)
    out.write("OB".getBytes("US-ASCII"), 0, 2)
    Bytes.le16(out, 0) // reserved pad
    Bytes.le32(out, pixelBytes.toLong)
    out.write(new Array[Byte](pixelBytes), 0, pixelBytes)
    out.toByteArray
  }
}
