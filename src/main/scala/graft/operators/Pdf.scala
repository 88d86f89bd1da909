package graft.operators

import java.io.ByteArrayOutputStream

import graft.codec.{Bytes, Inflate}

/** Pure-JVM PDF structure sniff: parse (and, for fixtures, emit) the
  * cross-reference skeleton of a classic-xref PDF (public spec, ISO
  * 32000-1) — no PDF libraries, no native deps.
  *
  * A document-heavy crawl is full of PDFs; the curation questions —
  * how many pages, is it encrypted, which spec version — are all
  * answerable from the xref skeleton without parsing content streams:
  *
  *  1. header comment `%PDF-M.m` → version;
  *  2. the end-of-file anchor: `startxref` + byte offset + `%%EOF`
  *     (scanned only in the file's final bytes — payload content can
  *     never alias it);
  *  3. the cross-reference at that offset — EITHER the classic TABLE
  *     (`xref`, a `start count` subsection line, fixed 20-byte
  *     entries `nnnnnnnnnn ggggg n|f`) with its trailer dict, OR the
  *     PDF 1.5+ cross-reference STREAM (`/Type /XRef`): a FlateDecode
  *     stream of big-endian `[type, field2, field3]` records under
  *     `/W` field widths and `/Index` subsections, optionally
  *     PNG/TIFF predictor-coded (ISO 32000-1 7.4.4.4), chained
  *     through `/Prev` with newest-section-wins merge (7.5.6);
  *  4. the operative dict (trailer or xref-stream dict): /Size
  *     (object count incl. the free head), /Root (catalog ref),
  *     /Encrypt presence;
  *  5. the object walk the index exists for: fetch the catalog,
  *     follow /Pages, fetch the page-tree root, read /Count — where
  *     type-2 entries resolve objects COMPRESSED inside an object
  *     stream (`/Type /ObjStm`, 7.5.7: N header pairs, /First, the
  *     serialized bodies), inflated once and cached per file.
  *
  * Decode failures return None — one corrupt blob must not kill a
  * corpus-scale pass. HYBRID-REFERENCE files (a classic table whose
  * trailer carries /XRefStm — ISO 32000-1 7.5.8.4, Acrobat's
  * pre-1.5-compatibility layout) merge the pointed-to stream's
  * entries under table-wins precedence; multi-level page trees walk
  * recursively (7.7.3.2).
  */
object Pdf {

  /** Inflated FlateDecode stream cap: a bomb fails instead of
    * exhausting the heap. */
  private val MaxStream = 1 << 26

  /** Sniffed PDF skeleton. `nObjects` = /Size − 1 (the spec counts the
    * always-free object 0); `nPages` = the page-tree root's /Count. */
  final case class PdfMeta(version: String, nPages: Int, nObjects: Int,
      encrypted: Boolean)

  /** ASCII view helpers — PDF's skeleton is 7-bit by construction. */
  private def ascii(b: Array[Byte], from: Int, until: Int): String =
    new String(b, from, math.max(0, until - from), "ISO-8859-1")

  /** Parse the unsigned integer starting at `i` (after optional spaces/
    * newlines); returns (value, indexAfter) or None. */
  private def parseLong(b: Array[Byte], start: Int): Option[(Long, Int)] = {
    var i = start
    while (i < b.length && (b(i) == ' ' || b(i) == '\r' || b(i) == '\n' ||
      b(i) == '\t')) i += 1
    var v = 0L
    var any = false
    while (i < b.length && b(i) >= '0' && b(i) <= '9') {
      v = v * 10 + (b(i) - '0')
      if (v < 0) return None // overflow = hostile
      any = true
      i += 1
    }
    if (any) Some((v, i)) else None
  }

  /** Find the byte index of `needle` within [from, until), or -1. */
  private def indexOf(b: Array[Byte], needle: String, from: Int,
      until: Int): Int = {
    val n = needle.getBytes("ISO-8859-1")
    val end = math.min(until, b.length) - n.length
    var i = math.max(0, from)
    while (i <= end) {
      var j = 0
      while (j < n.length && b(i + j) == n(j)) j += 1
      if (j == n.length) return i
      i += 1
    }
    -1
  }

  /** Parse an object reference `k g R` after the given dict key within
    * [from, until): returns the object number. */
  private def refAfter(b: Array[Byte], key: String, from: Int,
      until: Int): Option[Long] = {
    val k = indexOf(b, key, from, until)
    if (k < 0) return None
    parseLong(b, k + key.length).map(_._1)
  }

  /** Find `key` within [from, until) at a NAME boundary — the byte
    * after the match must not be a regular name character, so "/W"
    * never matches inside "/Width". Returns -1 when absent. */
  private def keyIdx(b: Array[Byte], key: String, from: Int,
      until: Int): Int = {
    var i = from
    while (i >= 0) {
      val k = indexOf(b, key, i, until)
      if (k < 0) return -1
      val after = k + key.length
      val c = if (after < b.length) b(after) & 0xff else ' '
      val nameChar = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9') || c == '#'
      if (!nameChar) return k
      i = k + 1
    }
    -1
  }

  private def keyNum(b: Array[Byte], key: String, from: Int,
      until: Int): Option[Long] = {
    val k = keyIdx(b, key, from, until)
    if (k < 0) None else parseLong(b, k + key.length).map(_._1)
  }

  /** Parse the integer array after `key`: `[ n1 n2 ... ]`, at most
    * `max` entries; None when absent or malformed. */
  private def keyArray(b: Array[Byte], key: String, from: Int, until: Int,
      max: Int): Option[Seq[Long]] = {
    val k = keyIdx(b, key, from, until)
    if (k < 0) return None
    val open = indexOf(b, "[", k, until)
    if (open < 0) return None
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = open + 1
    while (true) {
      while (i < until && (b(i) == ' ' || b(i) == '\r' || b(i) == '\n' ||
        b(i) == '\t')) i += 1
      if (i >= until) return None
      if (b(i) == ']') return Some(out.toSeq)
      parseLong(b, i) match {
        case Some((v, after)) =>
          out += v
          if (out.length > max) return None
          i = after
        case None => return None
      }
    }
    None
  }

  // ------------------------------------------------------------------
  // object index: classic xref table OR cross-reference stream chain
  // ------------------------------------------------------------------

  /** Where an object lives: directly in the file, or as the idx-th
    * object inside a compressed object stream (PDF 1.5 /ObjStm). */
  private sealed trait Loc
  private final case class InFile(off: Long) extends Loc
  private final case class InObjStm(stm: Long, idx: Int) extends Loc

  private final case class PdfIndex(locs: Map[Long, Loc], size: Long,
      root: Long, encrypted: Boolean)

  /** Reverse the /DecodeParms predictor over `data` (ISO 32000-1
    * 7.4.4.4, shared with PNG): 1 = none, 2 = TIFF horizontal
    * differencing, 10–15 = PNG row filters (each row led by a filter
    * byte; one byte per sample — the xref-stream case). Rows are
    * `columns` bytes wide. None on a ragged length or an unknown
    * filter byte. */
  private def unpredict(data: Array[Byte], predictor: Int,
      columns: Int): Option[Array[Byte]] = {
    if (predictor == 1) return Some(data)
    if (columns < 1) return None
    if (predictor == 2) {
      if (data.length % columns != 0) return None
      val out = data.clone
      var r = 0
      while (r < out.length) {
        var i = 1
        while (i < columns) {
          out(r + i) = (((out(r + i) & 0xff) + (out(r + i - 1) & 0xff))
            & 0xff).toByte
          i += 1
        }
        r += columns
      }
      return Some(out)
    }
    if (predictor < 10 || predictor > 15) return None
    val rowW = columns + 1
    if (data.length % rowW != 0) return None
    val nRows = data.length / rowW
    val out = new Array[Byte](nRows * columns)
    val prev = new Array[Int](columns)
    var r = 0
    while (r < nRows) {
      val f = data(r * rowW) & 0xff
      var i = 0
      while (i < columns) {
        val x = data(r * rowW + 1 + i) & 0xff
        val left = if (i > 0) out(r * columns + i - 1) & 0xff else 0
        val up = prev(i)
        val ul = if (i > 0) prev(i - 1) else 0
        val v = f match {
          case 0 => x
          case 1 => x + left
          case 2 => x + up
          case 3 => x + (left + up) / 2
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            x + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
          case _ => return None
        }
        out(r * columns + i) = (v & 0xff).toByte
        i += 1
      }
      var j = 0
      while (j < columns) { prev(j) = out(r * columns + j) & 0xff; j += 1 }
      r += 1
    }
    Some(out)
  }

  /** One parsed classic cross-reference SECTION: the table's own
    * entries plus (hybrid files) those its /XRefStm stream reveals,
    * the trailer dict fields, and the /Prev chain link. */
  private final case class CSection(entries: Seq[(Long, Loc)],
      size: Long, root: Long, encrypted: Boolean, prev: Long)

  /** Parse the classic xref TABLE at `xrefOff` (ISO 32000-1 7.5.4):
    * one or more `start count` SUBSECTIONS of fixed 20-byte entries
    * (incremental updates write sparse subsections covering only the
    * objects they touched), then the trailer. Trailer key scans are
    * bounded by the section's own `startxref` anchor -- every write,
    * incremental or original, ends with one -- so a chained OLDER
    * section never reads a newer trailer's keys. `limit` is the
    * fallback bound (the file-tail anchor position). */
  private def classicSection(b: Array[Byte], xrefOff: Int,
      limit: Int): Option[CSection] = {
    val entries = scala.collection.mutable.ArrayBuffer.empty[(Long, Loc)]
    var at = xrefOff + 4
    var sawSub = false
    var scanning = true
    while (scanning) {
      // next token: a `start count` subsection line, or `trailer`
      var p = at
      while (p < b.length && (b(p) == '\r' || b(p) == '\n' ||
        b(p) == ' ')) p += 1
      if (indexOf(b, "trailer", p, p + 7) == p) {
        at = p
        scanning = false
      } else {
        val (start, after1) = parseLong(b, at).getOrElse(return None)
        val (count, after2) = parseLong(b, after1).getOrElse(return None)
        if (start < 0 || count < 1 || count > 1000000) return None
        if (start + count > 10000000) return None
        sawSub = true
        // entries begin after the subsection line's EOL; each is
        // exactly 20 bytes (10-digit offset, space, 5-digit gen,
        // space, n|f, 2-byte EOL)
        var e = after2
        while (e < b.length && (b(e) == '\r' || b(e) == '\n' ||
          b(e) == ' ')) e += 1
        if (e + 20L * count > b.length) return None
        var i = 0
        while (i < count) {
          val row = e + 20 * i
          val off = parseLong(b, row).getOrElse(return None)._1
          val kind = b(row + 17)
          if (start == 0 && i == 0 && kind != 'f') return None // obj 0
          if (kind != 'n' && kind != 'f') return None
          if (kind == 'n') entries += ((start + i) -> InFile(off))
          i += 1
        }
        at = e + 20 * count.toInt
      }
    }
    if (!sawSub) return None
    val tr = at
    val end = indexOf(b, "startxref", tr, b.length) match {
      case -1 => limit
      case sx => sx
    }
    val size = refAfter(b, "/Size", tr, end).getOrElse(return None)
    if (size < 1 || size > 10000000) return None
    val root = refAfter(b, "/Root", tr, end).getOrElse(return None)
    val encrypted = indexOf(b, "/Encrypt", tr, end) >= 0
    val prev = keyNum(b, "/Prev", tr, end).getOrElse(-1L)
    // HYBRID-REFERENCE file (ISO 32000-1 7.5.8.4 -- Acrobat's
    // pre-1.5-compatibility layout): the trailer's /XRefStm key points
    // at a cross-reference STREAM carrying the entries the classic
    // table hides from old readers (its /ObjStm residents are marked
    // free in the table). The table's in-use entries take precedence;
    // the stream fills every object the table does not define. A
    // broken /XRefStm target rejects the file -- silently ignoring it
    // would mis-read exactly the hidden objects.
    keyNum(b, "/XRefStm", tr, end).foreach { xs =>
      if (xs < 0 || xs >= b.length) return None
      val sec = xrefStreamSection(b, xs.toInt).getOrElse(return None)
      val have = entries.map(_._1).toSet
      sec.entries.foreach { case (k, v) =>
        if (!have.contains(k)) entries += (k -> v)
      }
    }
    Some(CSection(entries.toSeq, size, root, encrypted, prev))
  }

  /** Parsed fields of one cross-reference stream section. */
  private final case class XSection(entries: Seq[(Long, Loc)], size: Long,
      root: Long, encrypted: Boolean, prev: Long)

  /** Parse one cross-reference STREAM (PDF 1.5+, ISO 32000-1 7.5.8):
    * an indirect stream object `<< /Type /XRef /W [...] /Index [...]
    * /Size ... >>`, optionally FlateDecode'd and predictor-coded,
    * whose rows are [type, field2, field3] big-endian records —
    * type 1 = in-file offset, type 2 = (objstm, index), type 0 =
    * free, unknown types read as null refs per spec. */
  private def xrefStreamSection(b: Array[Byte], off: Int)
      : Option[XSection] = {
    val (_, afterNum) = parseLong(b, off).getOrElse(return None)
    val (_, afterGen) = parseLong(b, afterNum).getOrElse(return None)
    var i = afterGen
    while (i < b.length && (b(i) == ' ' || b(i) == '\r' || b(i) == '\n'))
      i += 1
    if (indexOf(b, "obj", i, i + 3) != i) return None
    val dictFrom = i + 3
    val kw = indexOf(b, "stream", dictFrom,
      math.min(b.length, dictFrom + 4096))
    if (kw < 0) return None
    if (keyIdx(b, "/XRef", dictFrom, kw) < 0) return None
    val size = keyNum(b, "/Size", dictFrom, kw).getOrElse(return None)
    if (size < 1 || size > 10000000) return None
    val w = keyArray(b, "/W", dictFrom, kw, 8).getOrElse(return None)
    if (w.length < 3 || w.exists(x => x < 0 || x > 8)) return None
    val (w0, w1, w2) = (w(0).toInt, w(1).toInt, w(2).toInt)
    val rowW = w0 + w1 + w2
    if (rowW < 1 || w1 < 1) return None
    val idxPairs = keyArray(b, "/Index", dictFrom, kw, 64) match {
      case Some(a) =>
        if (a.length % 2 != 0 || a.isEmpty) return None
        a.grouped(2).map(p => (p(0), p(1))).toSeq
      case None => Seq((0L, size)) // /Index defaults to [0 Size]
    }
    if (idxPairs.exists { case (s2, c) => s2 < 0 || c < 0 || c > 10000000 })
      return None
    val total = idxPairs.map(_._2).sum
    val len = keyNum(b, "/Length", dictFrom, kw).getOrElse(return None)
    var dataFrom = kw + 6
    if (dataFrom < b.length && b(dataFrom) == '\r') dataFrom += 1
    if (dataFrom < b.length && b(dataFrom) == '\n') dataFrom += 1
    if (len < 0 || dataFrom + len > b.length) return None
    val raw = java.util.Arrays.copyOfRange(b, dataFrom, dataFrom + len.toInt)
    val inflated =
      if (keyIdx(b, "/FlateDecode", dictFrom, kw) >= 0)
        Inflate.zlib(raw, MaxStream).getOrElse(return None)
      else raw
    val predictor = keyNum(b, "/Predictor", dictFrom, kw).getOrElse(1L).toInt
    val columns = keyNum(b, "/Columns", dictFrom, kw).getOrElse(1L).toInt
    if (predictor != 1 && columns != rowW) return None // width mismatch
    val data = unpredict(inflated, predictor, columns).getOrElse(return None)
    if (data.length.toLong != total * rowW) return None
    val entries = scala.collection.mutable.ArrayBuffer.empty[(Long, Loc)]
    var base = 0
    idxPairs.foreach { case (s2, c) =>
      var k = 0L
      while (k < c) {
        val ro = base + (k * rowW).toInt
        val t = if (w0 == 0) 1L else Bytes.uBe(data, ro, w0) // type dflt 1
        val f2 = Bytes.uBe(data, ro + w0, w1)
        val f3 = if (w2 == 0) 0L else Bytes.uBe(data, ro + w0 + w1, w2)
        t match {
          case 0 => // free
          case 1 => entries += ((s2 + k) -> InFile(f2))
          case 2 =>
            if (f3 > Int.MaxValue) return None
            entries += ((s2 + k) -> InObjStm(f2, f3.toInt))
          case _ => // unknown type: a null reference — skip
        }
        k += 1
      }
      base += (c * rowW).toInt
    }
    val root = keyNum(b, "/Root", dictFrom, kw).getOrElse(-1L)
    val prev = keyNum(b, "/Prev", dictFrom, kw).getOrElse(-1L)
    val encrypted = keyIdx(b, "/Encrypt", dictFrom, kw) >= 0
    Some(XSection(entries.toSeq, size, root, encrypted, prev))
  }

  /** Build the object index at the startxref target: a chain of
    * classic sections (incremental updates linking through trailer
    * /Prev, each possibly hybrid via /XRefStm), or a PDF 1.5+
    * xref-stream CHAIN — in both, the NEWEST section is read first
    * and wins where sections overlap (the incremental-update rule,
    * ISO 32000-1 7.5.6), and the newest section's dict is the
    * operative one. A /Prev cycle or an over-long chain rejects. */
  private def buildIndex(b: Array[Byte], xrefOff: Int,
      limit: Int): Option[PdfIndex] = {
    var locs = Map.empty[Long, Loc]
    var size = -1L
    var root = -1L
    var encrypted = false
    var off = xrefOff.toLong
    var hops = 0
    val seen = scala.collection.mutable.Set.empty[Long]
    while (off >= 0) {
      hops += 1
      if (hops > 16 || off >= b.length || !seen.add(off)) return None
      val (entries, sSize, sRoot, sEnc, sPrev) =
        if (indexOf(b, "xref", off.toInt, off.toInt + 6) == off.toInt) {
          val s = classicSection(b, off.toInt, limit)
            .getOrElse(return None)
          (s.entries, s.size, s.root, s.encrypted, s.prev)
        } else {
          val s = xrefStreamSection(b, off.toInt).getOrElse(return None)
          (s.entries, s.size, s.root, s.encrypted, s.prev)
        }
      if (size < 0) { // the newest section carries the operative dict
        size = sSize
        root = sRoot
        encrypted = sEnc
      }
      entries.foreach { case (k, v) =>
        if (!locs.contains(k)) locs += k -> v // newest wins
      }
      off = sPrev
    }
    if (root < 1) return None
    Some(PdfIndex(locs, size, root, encrypted))
  }

  /** Object fetcher over a built index: resolves in-file objects to
    * slices of the file and /ObjStm residents to slices of the cached
    * inflated stream. Every lookup verifies the object number it
    * lands on — a corrupt offset must fail, never mis-read. */
  private final class ObjReader(b: Array[Byte], idx: PdfIndex) {
    private val stmCache = scala.collection.mutable.Map
      .empty[Long, Option[(Array[Byte], Array[Long], Array[Int])]]

    /** (buffer, from, until) of the object's body: for in-file objects
      * the slice opens at the `num gen obj` header; for ObjStm
      * residents at the object's first token. */
    def view(num: Long): Option[(Array[Byte], Int, Int)] = {
      if (num < 1 || num >= idx.size) return None
      idx.locs.get(num) match {
        case Some(InFile(off)) =>
          if (off < 0 || off >= b.length) return None
          if (!parseLong(b, off.toInt).exists(_._1 == num)) return None
          val end = indexOf(b, "endobj", off.toInt, b.length)
          if (end < 0) None else Some((b, off.toInt, end))
        case Some(InObjStm(stm, at)) =>
          objStm(stm).flatMap { case (data, nums, offs) =>
            if (at < 0 || at >= nums.length || nums(at) != num) None
            else {
              val until =
                if (at + 1 < offs.length) offs(at + 1) else data.length
              if (offs(at) > until || until > data.length) None
              else Some((data, offs(at), until))
            }
          }
        case None => None
      }
    }

    /** In-file byte range of the object — stream objects carry their
      * data in the FILE (the spec forbids streams inside an ObjStm). */
    def fileSlice(num: Long): Option[(Int, Int)] =
      idx.locs.get(num) match {
        case Some(InFile(_)) => view(num).map(v => (v._2, v._3))
        case _ => None
      }

    /** The integer VALUE of an object (the indirect /Length shape). */
    def intValue(num: Long): Option[Long] =
      view(num).flatMap { case (buf, from, until) =>
        idx.locs(num) match {
          case InFile(_) =>
            val kw = indexOf(buf, "obj", from, until)
            if (kw < 0) None else parseLong(buf, kw + 3).map(_._1)
          case _ => parseLong(buf, from).filter(_._2 <= until).map(_._1)
        }
      }

    private def objStm(stm: Long)
        : Option[(Array[Byte], Array[Long], Array[Int])] =
      stmCache.getOrElseUpdate(stm, decodeObjStm(stm))

    /** Decode an /ObjStm (7.5.7): N header pairs `objnum offset`, then
      * the serialized objects at /First + offset, offsets ascending. */
    private def decodeObjStm(stm: Long)
        : Option[(Array[Byte], Array[Long], Array[Int])] = {
      val (from, until) = idx.locs.get(stm) match {
        case Some(InFile(off)) =>
          if (off < 0 || off >= b.length) return None
          if (!parseLong(b, off.toInt).exists(_._1 == stm)) return None
          val end = indexOf(b, "endobj", off.toInt, b.length)
          if (end < 0) return None
          (off.toInt, end)
        case _ => return None // an ObjStm cannot nest inside an ObjStm
      }
      val kw = indexOf(b, "stream", from, until)
      if (kw < 0) return None
      if (keyIdx(b, "/ObjStm", from, kw) < 0) return None
      val nObjs = keyNum(b, "/N", from, kw).getOrElse(return None)
      if (nObjs < 1 || nObjs > 100000) return None
      val first = keyNum(b, "/First", from, kw).getOrElse(return None)
      val len = keyNum(b, "/Length", from, kw).getOrElse(return None)
      var dataFrom = kw + 6
      if (dataFrom < b.length && b(dataFrom) == '\r') dataFrom += 1
      if (dataFrom < b.length && b(dataFrom) == '\n') dataFrom += 1
      if (len < 0 || dataFrom + len > until) return None
      val raw = java.util.Arrays.copyOfRange(b, dataFrom,
        dataFrom + len.toInt)
      val data =
        if (keyIdx(b, "/FlateDecode", from, kw) >= 0)
          Inflate.zlib(raw, MaxStream).getOrElse(return None)
        else raw
      if (first < 0 || first > data.length) return None
      val nums = new Array[Long](nObjs.toInt)
      val offs = new Array[Int](nObjs.toInt)
      var i = 0
      var p = 0
      while (i < nObjs) {
        val (num, a1) = parseLong(data, p).getOrElse(return None)
        val (o, a2) = parseLong(data, a1).getOrElse(return None)
        if (a2 > first) return None // header pairs overran /First
        val abs = first + o
        if (abs < 0 || abs > data.length) return None
        if (i > 0 && abs < offs(i - 1)) return None // offsets ascend
        nums(i) = num
        offs(i) = abs.toInt
        p = a2
        i += 1
      }
      Some((data, nums, offs))
    }
  }

  def decodePdf(b: Array[Byte]): Option[PdfMeta] = try {
    if (b == null || b.length < 32) return None
    // 1. header: %PDF-M.m
    if (ascii(b, 0, 5) != "%PDF-") return None
    val nlIdx = indexOf(b, "\n", 5, math.min(b.length, 32))
    if (nlIdx < 0) return None
    val version = ascii(b, 5, nlIdx).trim
    if (!version.matches("\\d\\.\\d")) return None
    // 2. end anchor: startxref in the final bytes only
    val tailFrom = math.max(0, b.length - 128)
    val sx = indexOf(b, "startxref", tailFrom, b.length)
    if (sx < 0) return None
    val xrefOff = parseLong(b, sx + 9) match {
      case Some((v, _)) if v >= 0 && v < b.length => v.toInt
      case _ => return None
    }
    // 3+4. the cross-reference index: a classic TABLE (xref keyword +
    // 20-byte entries + trailer) or a PDF 1.5+ xref STREAM chain
    val idx = buildIndex(b, xrefOff, sx).getOrElse(return None)
    // 5. the object walk: catalog → /Pages → /Count (either object may
    // live compressed inside an /ObjStm in the modern layout)
    val rd = new ObjReader(b, idx)
    val (cb, cFrom, cUntil) = rd.view(idx.root).getOrElse(return None)
    if (indexOf(cb, "/Type /Catalog", cFrom, cUntil) < 0 &&
      indexOf(cb, "/Type/Catalog", cFrom, cUntil) < 0) return None
    val pagesRef = refAfter(cb, "/Pages", cFrom, cUntil)
      .getOrElse(return None)
    val (pb, pFrom, pUntil) = rd.view(pagesRef).getOrElse(return None)
    val nPages = refAfter(pb, "/Count", pFrom, pUntil)
      .getOrElse(return None)
    if (nPages < 0 || nPages > Int.MaxValue) return None
    if (idx.size < 1 || idx.size > Int.MaxValue) return None
    Some(PdfMeta(version, nPages.toInt, (idx.size - 1).toInt,
      idx.encrypted))
  } catch { case _: Exception => None }

  // ------------------------------------------------------------------
  // content-stream text extraction (round 14)
  // ------------------------------------------------------------------

  /** One text-run tokenizer pass over a decoded content stream.
    * Model (deliberately deterministic, the standard-14 assumption —
    * no font programs, PDFDocEncoding read as Latin-1):
    *  - only BT..ET blocks produce text;
    *  - Tj, ' and " append their string to the current line (' and "
    *    move to the next line first, like the spec's T* semantics);
    *  - TJ appends each string element of its array (kerning numbers
    *    are positioning, not glyphs — ignored);
    *  - Td, TD, T* and Tm start a new line;
    *  - inline images (BI..EI) are skipped;
    *  - anything malformed (unterminated string, array or text block)
    *    aborts to None — corrupt blobs must not yield plausible text.
    * Returns the block's lines, empty lines dropped. */
  private def tokenizeText(s: Array[Byte]): Option[Seq[String]] = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new java.lang.StringBuilder()
    var inText = false
    var i = 0
    val n = s.length
    def newline(): Unit = {
      if (cur.length() > 0) { lines += cur.toString; cur.setLength(0) }
    }
    // parse a literal string starting at '('; returns index after ')'
    def literal(start: Int): Option[(String, Int)] = {
      val sb = new java.lang.StringBuilder()
      var depth = 1
      var j = start + 1
      while (j < n && depth > 0) {
        (s(j) & 0xff) match {
          case '\\' =>
            if (j + 1 >= n) return None
            (s(j + 1) & 0xff) match {
              case 'n' => sb.append('\n'); j += 2
              case 'r' => sb.append('\r'); j += 2
              case 't' => sb.append('\t'); j += 2
              case 'b' => sb.append('\b'); j += 2
              case 'f' => sb.append('\f'); j += 2
              case '(' => sb.append('('); j += 2
              case ')' => sb.append(')'); j += 2
              case '\\' => sb.append('\\'); j += 2
              case '\r' => j += (if (j + 2 < n && s(j + 2) == '\n') 3 else 2)
              case '\n' => j += 2 // line continuation
              case d if d >= '0' && d <= '7' =>
                var v = 0; var k = j + 1; var cnt = 0
                while (k < n && cnt < 3 && s(k) >= '0' && s(k) <= '7') {
                  v = v * 8 + (s(k) - '0'); k += 1; cnt += 1
                }
                sb.append((v & 0xff).toChar); j = k
              case other => sb.append(other.toChar); j += 2 // \x -> x
            }
          case '(' => depth += 1; sb.append('('); j += 1
          case ')' =>
            depth -= 1
            if (depth > 0) sb.append(')')
            j += 1
          case c => sb.append(c.toChar); j += 1
        }
      }
      if (depth != 0) None else Some((sb.toString, j))
    }
    // parse a hex string starting at '<'; returns index after '>'
    def hexString(start: Int): Option[(String, Int)] = {
      val sb = new java.lang.StringBuilder()
      var j = start + 1
      var hi = -1
      while (j < n && s(j) != '>') {
        val c = s(j) & 0xff
        val d =
          if (c >= '0' && c <= '9') c - '0'
          else if (c >= 'A' && c <= 'F') c - 'A' + 10
          else if (c >= 'a' && c <= 'f') c - 'a' + 10
          else if (c == ' ' || c == '\r' || c == '\n' || c == '\t') -2
          else return None
        if (d >= 0) {
          if (hi < 0) hi = d
          else { sb.append(((hi << 4) | d).toChar); hi = -1 }
        }
        j += 1
      }
      if (j >= n) return None
      if (hi >= 0) sb.append((hi << 4).toChar) // odd digit: pad 0
      Some((sb.toString, j + 1))
    }
    var pendingStrings = scala.collection.mutable.ArrayBuffer.empty[String]
    var pendingArray: Seq[String] = null
    var inArray = false
    val arrayAcc = scala.collection.mutable.ArrayBuffer.empty[String]
    def isDelim(c: Int): Boolean =
      c == ' ' || c == '\r' || c == '\n' || c == '\t' || c == 0 || c == '\f'
    while (i < n) {
      val c = s(i) & 0xff
      if (isDelim(c)) i += 1
      else if (c == '%') { // comment to EOL
        while (i < n && s(i) != '\n' && s(i) != '\r') i += 1
      } else if (c == '(') {
        literal(i) match {
          case Some((str, j)) =>
            if (inArray) arrayAcc += str else pendingStrings += str
            i = j
          case None => return None
        }
      } else if (c == '<' && i + 1 < n && s(i + 1) == '<') {
        i += 2 // dict open — contents handled as ordinary tokens
      } else if (c == '>' && i + 1 < n && s(i + 1) == '>') {
        i += 2
      } else if (c == '<') {
        hexString(i) match {
          case Some((str, j)) =>
            if (inArray) arrayAcc += str else pendingStrings += str
            i = j
          case None => return None
        }
      } else if (c == '[') {
        inArray = true; arrayAcc.clear(); i += 1
      } else if (c == ']') {
        inArray = false; pendingArray = arrayAcc.toSeq; i += 1
      } else if (c == '/') { // name: skip token
        i += 1
        while (i < n && !isDelim(s(i) & 0xff) && s(i) != '/' && s(i) != '(' &&
          s(i) != '[' && s(i) != ']' && s(i) != '<' && s(i) != '>') i += 1
      } else {
        // number or operator token
        val start = i
        while (i < n && !isDelim(s(i) & 0xff) && s(i) != '/' && s(i) != '(' &&
          s(i) != '[' && s(i) != ']' && s(i) != '<' && s(i) != '>' &&
          s(i) != '%') i += 1
        val tok = new String(s, start, i - start, "ISO-8859-1")
        tok match {
          case "BT" =>
            if (inText) return None
            inText = true
          case "ET" =>
            if (!inText) return None
            newline()
            inText = false
          case "Tj" =>
            if (inText && pendingStrings.nonEmpty)
              cur.append(pendingStrings.last)
            pendingStrings.clear()
          case "'" =>
            newline()
            if (inText && pendingStrings.nonEmpty)
              cur.append(pendingStrings.last)
            pendingStrings.clear()
          case "\"" =>
            newline()
            if (inText && pendingStrings.nonEmpty)
              cur.append(pendingStrings.last)
            pendingStrings.clear()
          case "TJ" =>
            if (inText && pendingArray != null) pendingArray.foreach(cur.append)
            pendingArray = null
          case "Td" | "TD" | "T*" | "Tm" =>
            newline()
            pendingStrings.clear()
          case "BI" => // inline image: skip to EI
            val ei = indexOf(s, "EI", i, n)
            if (ei < 0) return None
            i = ei + 2
          case _ =>
            // any other operator consumes its operands
            if (!tok.matches("[-+.0-9]+")) { pendingStrings.clear(); pendingArray = null }
        }
      }
    }
    if (inText) None else Some(lines.toSeq)
  }

  /** Extract the text of every page, in page-tree order — the
    * standard-14 / classic-xref surface of the decodePdf sniff. Each
    * page contributes its lines (see tokenizeText); pages with no text
    * contribute nothing. Returns None when the skeleton or any
    * content stream is malformed. */
  def extractText(b: Array[Byte]): Option[Seq[String]] = {
    try {
      val meta = decodePdf(b).getOrElse(return None)
      // an /Encrypt'd document's strings are ciphertext — extracting
      // them verbatim would be plausible-wrong text, so triage stops
      // at decodePdf for encrypted files
      if (meta.encrypted) return None
      // re-walk the skeleton (cheap: the index lives in the tail)
      val tailFrom = math.max(0, b.length - 128)
      val sx = indexOf(b, "startxref", tailFrom, b.length)
      val xrefOff = parseLong(b, sx + 9).get._1.toInt
      val idx = buildIndex(b, xrefOff, sx).getOrElse(return None)
      val rd = new ObjReader(b, idx)
      val (cb, cFrom, cUntil) = rd.view(idx.root).getOrElse(return None)
      val pagesRef = refAfter(cb, "/Pages", cFrom, cUntil)
        .getOrElse(return None)
      // page-tree walk: /Kids may nest through intermediate /Type
      // /Pages nodes (every large real-world PDF balances its tree
      // this way); leaves are the page dicts. Depth- and count-
      // bounded; leaves collected in tree order.
      def parseKids(buf: Array[Byte], from: Int, until: Int)
          : Option[Seq[Long]] = {
        val kidsAt = indexOf(buf, "/Kids", from, until)
        if (kidsAt < 0) return None
        val open = indexOf(buf, "[", kidsAt, until)
        val close = indexOf(buf, "]", open, until)
        if (open < 0 || close < 0) return None
        val kids = scala.collection.mutable.ArrayBuffer.empty[Long]
        var k = open + 1
        while (k < close) {
          parseLong(buf, k) match {
            case Some((num, after)) =>
              val afterGen = parseLong(buf, after).map(_._2)
                .getOrElse(return None)
              var r = afterGen
              while (r < close && (buf(r) == ' ' || buf(r) == '\r' ||
                buf(r) == '\n')) r += 1
              if (r >= close || buf(r) != 'R') return None
              kids += num
              k = r + 1
            case None => k = close
          }
        }
        Some(kids.toSeq)
      }
      val leaves = scala.collection.mutable.ArrayBuffer.empty[Long]
      def walk(node: Long, depth: Int): Boolean = { // false = malformed
        if (depth > 16 || leaves.length > 1000000) return false
        rd.view(node) match {
          case Some((nb, nFrom, nUntil)) =>
            if (indexOf(nb, "/Type /Pages", nFrom, nUntil) >= 0 ||
              indexOf(nb, "/Type/Pages", nFrom, nUntil) >= 0)
              parseKids(nb, nFrom, nUntil) match {
                case Some(ks) => ks.forall(walk(_, depth + 1))
                case None => false
              }
            else { leaves += node; true }
          case None => false
        }
      }
      if (!walk(pagesRef, 0)) return None
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      leaves.foreach { kid =>
        val (kb, kFrom, kUntil) = rd.view(kid).getOrElse(return None)
        refAfter(kb, "/Contents", kFrom, kUntil).foreach { cs =>
          // a content STREAM's bytes always live in the file — the
          // spec forbids stream objects inside an /ObjStm
          val (sFrom, sUntil) = rd.fileSlice(cs).getOrElse(return None)
          val kw = indexOf(b, "stream", sFrom, sUntil)
          if (kw < 0) return None
          var dataFrom = kw + 6
          if (dataFrom < b.length && b(dataFrom) == '\r') dataFrom += 1
          if (dataFrom < b.length && b(dataFrom) == '\n') dataFrom += 1
          // /Length: direct integer or indirect ref
          val lenAt = indexOf(b, "/Length", sFrom, kw)
          if (lenAt < 0) return None
          val (lv, lAfter) = parseLong(b, lenAt + 7).getOrElse(return None)
          var r = lAfter
          while (r < kw && (b(r) == ' ')) r += 1
          val dataLen =
            if (r + 1 < kw && b(r) >= '0' && b(r) <= '9' &&
              { val g = parseLong(b, r); g.exists(p => {
                var q = p._2
                while (q < kw && b(q) == ' ') q += 1
                q < kw && b(q) == 'R' }) }) {
              // indirect: resolve the length-value object
              rd.intValue(lv).getOrElse(return None)
            } else lv
          if (dataLen < 0 || dataFrom + dataLen > sUntil) return None
          val raw = java.util.Arrays.copyOfRange(b, dataFrom,
            dataFrom + dataLen.toInt)
          val flate = indexOf(b, "/FlateDecode", sFrom, kw) >= 0
          val data =
            if (flate) Inflate.zlib(raw, MaxStream).getOrElse(return None)
            else raw
          out ++= tokenizeText(data).getOrElse(return None)
        }
      }
      Some(out.toSeq)
    } catch { case _: Exception => None }
  }

  // ------------------------------------------------------------------
  // document outline (TOC) metadata (round 16)
  // ------------------------------------------------------------------

  /** Outline (TOC) skeleton: item count, deepest level (1 = flat),
    * and every /Title in pre-order — the navigation-quality signal
    * for big-document curation. */
  final case class PdfOutline(nItems: Int, maxDepth: Int,
      titles: Seq[String])

  /** Parse the `(...)` literal string starting at `start` (which must
    * be the open paren): balanced-paren nesting, the standard escapes,
    * octal codes. None when unterminated. */
  private def literalString(buf: Array[Byte], start: Int, until: Int)
      : Option[String] = {
    if (start >= until || buf(start) != '(') return None
    val sb = new java.lang.StringBuilder()
    var depth = 1
    var j = start + 1
    while (j < until && depth > 0) {
      (buf(j) & 0xff) match {
        case '\\' =>
          if (j + 1 >= until) return None
          (buf(j + 1) & 0xff) match {
            case 'n' => sb.append('\n'); j += 2
            case 'r' => sb.append('\r'); j += 2
            case 't' => sb.append('\t'); j += 2
            case 'b' => sb.append('\b'); j += 2
            case 'f' => sb.append('\f'); j += 2
            case '(' => sb.append('('); j += 2
            case ')' => sb.append(')'); j += 2
            case '\\' => sb.append('\\'); j += 2
            case d if d >= '0' && d <= '7' =>
              var v = 0; var k = j + 1; var cnt = 0
              while (k < until && cnt < 3 &&
                buf(k) >= '0' && buf(k) <= '7') {
                v = v * 8 + (buf(k) - '0'); k += 1; cnt += 1
              }
              sb.append((v & 0xff).toChar); j = k
            case other => sb.append(other.toChar); j += 2
          }
        case '(' => depth += 1; sb.append('('); j += 1
        case ')' => depth -= 1; if (depth > 0) sb.append(')'); j += 1
        case c => sb.append(c.toChar); j += 1
      }
    }
    if (depth != 0) None else Some(sb.toString)
  }

  /** The /Title literal of an outline item's dict slice. Every item
    * REQUIRES a /Title (ISO 32000-1 12.3.3) — absence is malformed. */
  private def titleOf(buf: Array[Byte], from: Int, until: Int)
      : Option[String] = {
    val k = keyIdx(buf, "/Title", from, until)
    if (k < 0) return None
    var j = k + 6
    while (j < until && (buf(j) == ' ' || buf(j) == '\r' ||
      buf(j) == '\n')) j += 1
    literalString(buf, j, until)
  }

  /** Walk the document outline (ISO 32000-1 12.3.3): catalog →
    * /Outlines → sibling chains through /First + /Next, depth-first.
    * A valid PDF WITHOUT an /Outlines key yields the empty outline
    * (no TOC is a fact, not a failure); a torn item, a missing
    * /Title, a reference cycle, or an /Encrypt'd file (ciphertext
    * titles) → None. Items may live compressed in an /ObjStm — the
    * same ObjReader resolution as every other object. */
  def decodeOutline(b: Array[Byte]): Option[PdfOutline] = try {
    val meta = decodePdf(b).getOrElse(return None)
    if (meta.encrypted) return None
    val tailFrom = math.max(0, b.length - 128)
    val sx = indexOf(b, "startxref", tailFrom, b.length)
    val xrefOff = parseLong(b, sx + 9).get._1.toInt
    val idx = buildIndex(b, xrefOff, sx).getOrElse(return None)
    val rd = new ObjReader(b, idx)
    val (cb, cFrom, cUntil) = rd.view(idx.root).getOrElse(return None)
    val rootRef = refAfter(cb, "/Outlines", cFrom, cUntil) match {
      case None => return Some(PdfOutline(0, 0, Nil))
      case Some(r) => r
    }
    val titles = scala.collection.mutable.ArrayBuffer.empty[String]
    val visited = scala.collection.mutable.Set.empty[Long]
    var maxDepth = 0
    def chain(first: Long, depth: Int): Boolean = {
      if (depth > 32) return false // hostile nesting
      var cur = first
      while (cur >= 0) {
        if (titles.length > 100000 || !visited.add(cur)) return false
        val (ib, iFrom, iUntil) = rd.view(cur) match {
          case Some(v) => v
          case None => return false
        }
        titles += titleOf(ib, iFrom, iUntil).getOrElse(return false)
        if (depth > maxDepth) maxDepth = depth
        refAfter(ib, "/First", iFrom, iUntil) match {
          case Some(f) => if (!chain(f, depth + 1)) return false
          case None =>
        }
        cur = refAfter(ib, "/Next", iFrom, iUntil).getOrElse(-1L)
      }
      true
    }
    val (ob, oFrom, oUntil) = rd.view(rootRef).getOrElse(return None)
    visited.add(rootRef)
    refAfter(ob, "/First", oFrom, oUntil) match {
      case Some(f) => if (!chain(f, 1)) return None
      case None => // an /Outlines dict with zero items
    }
    Some(PdfOutline(titles.length, maxDepth, titles.toList))
  } catch { case _: Exception => None }

  /** Escape a line for a PDF literal string. */
  private def escLiteral(s: String): String = {
    val sb = new java.lang.StringBuilder()
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '(' => sb.append("\\(")
      case ')' => sb.append("\\)")
      case c if c < 32 || c > 126 =>
        sb.append(f"\\${c.toInt & 0xff}%03o")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def hexLiteral(s: String): String =
    s.map(c => f"${c.toInt & 0xff}%02X").mkString

  /** The per-page text-operator mix shared by both text emitters:
    * Td+Tj literal, TD+Tj escaped literal, T*+TJ kerned array (the
    * line split around a -250 position), Tm+hex Tj — cycling by line
    * index. */
  private def pageOps(lines: Seq[String]): String = {
    val ops = new java.lang.StringBuilder()
    ops.append("BT /F1 12 Tf ")
    lines.zipWithIndex.foreach { case (line, i) =>
      if (i == 0) ops.append(s"72 720 Td (${escLiteral(line)}) Tj ")
      else (i % 3) match {
        case 1 => ops.append(s"0 -14 TD (${escLiteral(line)}) Tj ")
        case 2 =>
          val cut = line.length / 2
          ops.append(s"T* [(${escLiteral(line.take(cut))}) -250 " +
            s"(${escLiteral(line.drop(cut))})] TJ ")
        case _ =>
          ops.append(s"1 0 0 1 72 600 Tm <${hexLiteral(line)}> Tj ")
      }
    }
    ops.append("ET")
    ops.toString
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val bos = new ByteArrayOutputStream(raw.length + 32)
    val buf = new Array[Byte](4096)
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    d.end()
    bos.toByteArray
  }

  /** Text-bearing fixture emitter: one content stream PER PAGE with a
    * real operator mix — Td+Tj literal, TD+Tj (escaped literal),
    * T*+TJ kerned array (the line split around a -250 position), and
    * Tm+Tj hex string — optionally FlateDecode'd, plus a standard-14
    * /Font resource. extractText() is the identity on `pages`' lines. */
  def encodeTextPdf(version: String, pages: Seq[Seq[String]],
      flate: Boolean): Array[Byte] = {
    require(version.matches("\\d\\.\\d"), s"version is M.m: $version")
    require(pages.nonEmpty, "at least one page")
    val n = pages.length
    val out = new ByteArrayOutputStream(1024)
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val offsets = scala.collection.mutable.ArrayBuffer[Long](0L)
    w(s"%PDF-$version\n")
    offsets += out.size()
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    offsets += out.size()
    val kids = (0 until n).map(k => s"${3 + k} 0 R").mkString(" ")
    w(s"2 0 obj << /Type /Pages /Kids [$kids] /Count $n >> endobj\n")
    val fontObj = 3 + n
    var k = 0
    while (k < n) {
      offsets += out.size()
      w(s"${3 + k} 0 obj << /Type /Page /Parent 2 0 R " +
        s"/Resources << /Font << /F1 $fontObj 0 R >> >> " +
        s"/Contents ${fontObj + 1 + k} 0 R >> endobj\n")
      k += 1
    }
    offsets += out.size()
    w(s"$fontObj 0 obj << /Type /Font /Subtype /Type1 " +
      "/BaseFont /Helvetica >> endobj\n")
    k = 0
    while (k < n) {
      val raw = pageOps(pages(k)).getBytes("ISO-8859-1")
      val data = if (flate) deflate(raw) else raw
      offsets += out.size()
      w(s"${fontObj + 1 + k} 0 obj << /Length ${data.length}" +
        (if (flate) " /Filter /FlateDecode" else "") + " >> stream\n")
      out.write(data, 0, data.length)
      w("\nendstream endobj\n")
      k += 1
    }
    val size = offsets.length
    val xrefOff = out.size()
    w(s"xref\n0 $size\n")
    w("0000000000 65535 f \n")
    var j = 1
    while (j < size) {
      w(f"${offsets(j)}%010d 00000 n \n")
      j += 1
    }
    w(s"trailer << /Size $size /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  /** Append one INCREMENTAL UPDATE (ISO 32000-1 7.5.6 — what every
    * save-in-place writer appends) to a classic text PDF produced by
    * [[encodeTextPdf]] (or by a previous call of this): a replacement
    * content stream for page `pageIdx` carrying `newLines`, then a
    * SPARSE xref section (the `0 1` free-head subsection plus a
    * one-object subsection — the multi-subsection shape), a trailer
    * chaining to the previous section via /Prev, and a fresh
    * startxref + %%EOF. The original bytes are untouched — that is
    * the point of the format. */
  def appendIncrementalUpdate(base: Array[Byte], nPages: Int,
      pageIdx: Int, newLines: Seq[String], flate: Boolean)
      : Array[Byte] = {
    require(pageIdx >= 0 && pageIdx < nPages, s"page $pageIdx/$nPages")
    val size = 4 + 2 * nPages // unchanged: no new object numbers
    val objNum = 4 + nPages + pageIdx // the page's content stream
    val s = new String(base, "ISO-8859-1")
    val sxAt = s.lastIndexOf("startxref")
    require(sxAt >= 0, "base has no startxref anchor")
    val prevOff = s.substring(sxAt + 9).trim.takeWhile(_.isDigit)
    val out = new ByteArrayOutputStream(base.length + 256)
    out.write(base, 0, base.length)
    def w(str: String): Unit = out.write(str.getBytes("ISO-8859-1"))
    val objOff = out.size()
    val raw = pageOps(newLines).getBytes("ISO-8859-1")
    val data = if (flate) deflate(raw) else raw
    w(s"$objNum 0 obj << /Length ${data.length}" +
      (if (flate) " /Filter /FlateDecode" else "") + " >> stream\n")
    out.write(data, 0, data.length)
    w("\nendstream endobj\n")
    val xrefOff = out.size()
    w(s"xref\n0 1\n0000000000 65535 f \n")
    w(s"$objNum 1\n")
    w(f"$objOff%010d 00000 n \n")
    w(s"trailer << /Size $size /Root 1 0 R /Prev $prevOff >>\n")
    w(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  /** Modern-layout fixture emitter (PDF 1.5+): catalog, page tree,
    * page dicts and the font live COMPRESSED inside one /ObjStm;
    * content streams (even pages FlateDecode'd, odd pages raw) and
    * the /ObjStm sit in the file; the cross-reference is a /Type
    * /XRef STREAM (/W [1 4 2], /Index, optionally PNG-Up predictor
    * coded), not a table — the layout every modern PDF writer emits.
    * extractText() is the identity on `pages`' lines (unencrypted);
    * decodePdf() reads version/pages/objects/encryption. */
  /** One outline (TOC) item for the fixture emitters. */
  final case class OItem(title: String, kids: Seq[OItem] = Nil)

  def encodeXrefPdf(version: String, pages: Seq[Seq[String]],
      encrypted: Boolean, predictor: Int,
      treeFanout: Int = 0, outline: Seq[OItem] = Nil): Array[Byte] = {
    require(version.matches("\\d\\.\\d"), s"version is M.m: $version")
    require(pages.nonEmpty, "at least one page")
    require(predictor == 1 || predictor == 12, "predictor 1 or 12")
    require(treeFanout == 0 || treeFanout >= 2, "fanout 0 (flat) or >=2")
    val n = pages.length
    // BALANCED page tree (the large real-PDF layout): group the page
    // dicts under intermediate /Pages nodes of `treeFanout` kids; a
    // grouping that would yield a single intermediate stays flat
    val nInt =
      if (treeFanout >= 2) {
        val g = (n + treeFanout - 1) / treeFanout
        if (g >= 2) g else 0
      } else 0
    val fontObj = 3 + n
    val intBase = 4 + n // intermediate /Pages nodes (in the ObjStm)
    val contentBase = 4 + n + nInt // content streams (in the file)
    val objStmNum = 4 + 2 * n + nInt
    val encObj = if (encrypted) Some(5 + 2 * n + nInt) else None
    val xrefNum = 5 + 2 * n + nInt + (if (encrypted) 1 else 0)
    // outline (TOC) objects — root + items in pre-order — take the
    // numbers past the xref stream and live COMPRESSED in the ObjStm
    def subSize(it: OItem): Int = 1 + it.kids.map(subSize).sum
    val outlineRoot = xrefNum + 1
    val nOutline = if (outline.isEmpty) 0 else 1 + outline.map(subSize).sum
    val size = xrefNum + 1 + nOutline
    val out = new ByteArrayOutputStream(1024)
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val fileOff = scala.collection.mutable.Map.empty[Int, Long]
    w(s"%PDF-$version\n%âãÏÓ\n") // binary marker line
    // content streams (in the file — streams cannot live in an ObjStm)
    var k = 0
    while (k < n) {
      val raw = pageOps(pages(k)).getBytes("ISO-8859-1")
      val flate = k % 2 == 0
      val data = if (flate) deflate(raw) else raw
      fileOff(contentBase + k) = out.size()
      w(s"${contentBase + k} 0 obj << /Length ${data.length}" +
        (if (flate) " /Filter /FlateDecode" else "") + " >> stream\n")
      out.write(data, 0, data.length)
      w("\nendstream endobj\n")
      k += 1
    }
    // the object stream: catalog, pages root, page dicts, font
    val inner = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    inner += 1 -> ("<< /Type /Catalog /Pages 2 0 R" +
      (if (outline.nonEmpty) s" /Outlines $outlineRoot 0 R" else "") +
      " >>")
    val rootKids =
      if (nInt == 0) (0 until n).map(k2 => s"${3 + k2} 0 R")
      else (0 until nInt).map(g => s"${intBase + g} 0 R")
    inner += 2 ->
      s"<< /Type /Pages /Kids [${rootKids.mkString(" ")}] /Count $n >>"
    (0 until n).foreach { k2 =>
      val parent = if (nInt == 0) 2 else intBase + k2 / treeFanout
      inner += (3 + k2) -> (s"<< /Type /Page /Parent $parent 0 R " +
        s"/Resources << /Font << /F1 $fontObj 0 R >> >> " +
        s"/Contents ${contentBase + k2} 0 R >>")
    }
    inner += fontObj ->
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    (0 until nInt).foreach { g =>
      val members = (g * treeFanout) until math.min(n, (g + 1) * treeFanout)
      val ks = members.map(k2 => s"${3 + k2} 0 R").mkString(" ")
      inner += (intBase + g) -> ("<< /Type /Pages /Parent 2 0 R " +
        s"/Kids [$ks] /Count ${members.length} >>")
    }
    if (outline.nonEmpty) {
      // pre-order numbering: an item's subtree occupies a contiguous
      // number range, so sibling numbers are prefix sums of subtree
      // sizes; each item links /Parent /Prev /Next and, when it has
      // children, /First /Last /Count (open count = descendants)
      def emitLevel(items: Seq[OItem], parent: Int, start: Int): Unit = {
        val nums = items.scanLeft(start)((a, it) => a + subSize(it)).init
        items.zip(nums).zipWithIndex.foreach { case ((it, num), i2) =>
          val prev =
            if (i2 == 0) "" else s" /Prev ${nums(i2 - 1)} 0 R"
          val next = if (i2 == items.length - 1) ""
            else s" /Next ${nums(i2 + 1)} 0 R"
          val kidsPart = if (it.kids.isEmpty) "" else {
            val kNums = it.kids
              .scanLeft(num + 1)((a, k2) => a + subSize(k2)).init
            s" /First ${num + 1} 0 R /Last ${kNums.last} 0 R" +
              s" /Count ${subSize(it) - 1}"
          }
          inner += num -> (s"<< /Title (${escLiteral(it.title)})" +
            s" /Parent $parent 0 R$prev$next$kidsPart >>")
          emitLevel(it.kids, num, num + 1)
        }
      }
      val topNums = outline
        .scanLeft(outlineRoot + 1)((a, it) => a + subSize(it)).init
      inner += outlineRoot -> ("<< /Type /Outlines" +
        s" /First ${outlineRoot + 1} 0 R /Last ${topNums.last} 0 R" +
        s" /Count ${nOutline - 1} >>")
      emitLevel(outline, outlineRoot, outlineRoot + 1)
    }
    val bodies = inner.map(_._2 + " ")
    val innerOffs = bodies.scanLeft(0)(_ + _.length).init
    val header = inner.map(_._1).zip(innerOffs)
      .map { case (num, o) => s"$num $o" }.mkString("", " ", " ")
    val stmRaw = (header + bodies.mkString).getBytes("ISO-8859-1")
    val stmData = deflate(stmRaw)
    fileOff(objStmNum) = out.size()
    w(s"$objStmNum 0 obj << /Type /ObjStm /N ${inner.length} " +
      s"/First ${header.length} /Length ${stmData.length} " +
      "/Filter /FlateDecode >> stream\n")
    out.write(stmData, 0, stmData.length)
    w("\nendstream endobj\n")
    encObj.foreach { e =>
      fileOff(e) = out.size()
      w(s"$e 0 obj << /Filter /Standard /V 2 >> endobj\n")
    }
    // the cross-reference stream itself: W = [1 4 2]
    val xrefOff = out.size()
    fileOff(xrefNum) = xrefOff
    val rowW = 7
    val rows = new Array[Byte](size * rowW)
    def putRow(obj: Int, t: Int, f2: Long, f3: Int): Unit = {
      val o = obj * rowW
      rows(o) = t.toByte
      rows(o + 1) = ((f2 >> 24) & 0xff).toByte
      rows(o + 2) = ((f2 >> 16) & 0xff).toByte
      rows(o + 3) = ((f2 >> 8) & 0xff).toByte
      rows(o + 4) = (f2 & 0xff).toByte
      rows(o + 5) = ((f3 >> 8) & 0xff).toByte
      rows(o + 6) = (f3 & 0xff).toByte
    }
    putRow(0, 0, 0, 65535) // object 0: the free-list head
    inner.zipWithIndex.foreach { case ((num, _), at) =>
      putRow(num, 2, objStmNum.toLong, at) // type 2: (objstm, index)
    }
    fileOff.foreach { case (num, o) => putRow(num, 1, o, 0) }
    val coded =
      if (predictor == 12) {
        // PNG Up filter per row: filter byte 2, data minus prior row
        val pc = new Array[Byte](size * (rowW + 1))
        var r = 0
        while (r < size) {
          pc(r * (rowW + 1)) = 2
          var i = 0
          while (i < rowW) {
            val up = if (r > 0) rows((r - 1) * rowW + i) & 0xff else 0
            pc(r * (rowW + 1) + 1 + i) =
              (((rows(r * rowW + i) & 0xff) - up) & 0xff).toByte
            i += 1
          }
          r += 1
        }
        pc
      } else rows
    val xData = deflate(coded)
    w(s"$xrefNum 0 obj << /Type /XRef /Size $size /Root 1 0 R " +
      (if (encrypted) s"/Encrypt ${encObj.get} 0 R " else "") +
      s"/W [1 4 2] /Index [0 $size] " +
      (if (predictor == 12)
        s"/DecodeParms << /Predictor 12 /Columns $rowW >> " else "") +
      s"/Length ${xData.length} /Filter /FlateDecode >> stream\n")
    out.write(xData, 0, xData.length)
    w("\nendstream endobj\n")
    w(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  /** HYBRID-REFERENCE fixture emitter (ISO 32000-1 7.5.8.4): the
    * layout Acrobat writes for pre-1.5 compatibility. The document
    * objects (catalog, page-tree root, page dicts, font) live
    * COMPRESSED in an /ObjStm; the CLASSIC xref table marks them free
    * (an old reader sees a well-formed table it cannot fully walk)
    * and its trailer's /XRefStm key points at a cross-reference
    * stream whose type-2 entries reveal them. `startxref` targets the
    * CLASSIC table. In-file objects (content streams, the /ObjStm,
    * the xref stream itself) appear in BOTH indexes with agreeing
    * offsets — the table wins where both define an object. */
  def encodeHybridPdf(version: String, pages: Seq[Seq[String]],
      predictor: Int = 1): Array[Byte] = {
    require(version.matches("\\d\\.\\d"), s"version is M.m: $version")
    require(pages.nonEmpty, "at least one page")
    require(predictor == 1 || predictor == 12, "predictor 1 or 12")
    val n = pages.length
    val fontObj = 3 + n
    val contentBase = 4 + n // content streams (in the file)
    val objStmNum = 4 + 2 * n
    val xrefStmNum = 5 + 2 * n
    val size = xrefStmNum + 1
    val out = new ByteArrayOutputStream(1024)
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val fileOff = scala.collection.mutable.Map.empty[Int, Long]
    w(s"%PDF-$version\n%âãÏÓ\n")
    var k = 0
    while (k < n) {
      val raw = pageOps(pages(k)).getBytes("ISO-8859-1")
      val flate = k % 2 == 0
      val data = if (flate) deflate(raw) else raw
      fileOff(contentBase + k) = out.size()
      w(s"${contentBase + k} 0 obj << /Length ${data.length}" +
        (if (flate) " /Filter /FlateDecode" else "") + " >> stream\n")
      out.write(data, 0, data.length)
      w("\nendstream endobj\n")
      k += 1
    }
    // the hidden objects, compressed into one /ObjStm
    val inner = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    inner += 1 -> "<< /Type /Catalog /Pages 2 0 R >>"
    val kids = (0 until n).map(k2 => s"${3 + k2} 0 R").mkString(" ")
    inner += 2 -> s"<< /Type /Pages /Kids [$kids] /Count $n >>"
    (0 until n).foreach { k2 =>
      inner += (3 + k2) -> (s"<< /Type /Page /Parent 2 0 R " +
        s"/Resources << /Font << /F1 $fontObj 0 R >> >> " +
        s"/Contents ${contentBase + k2} 0 R >>")
    }
    inner += fontObj ->
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    val bodies = inner.map(_._2 + " ")
    val innerOffs = bodies.scanLeft(0)(_ + _.length).init
    val header = inner.map(_._1).zip(innerOffs)
      .map { case (num, o) => s"$num $o" }.mkString("", " ", " ")
    val stmRaw = (header + bodies.mkString).getBytes("ISO-8859-1")
    val stmData = deflate(stmRaw)
    fileOff(objStmNum) = out.size()
    w(s"$objStmNum 0 obj << /Type /ObjStm /N ${inner.length} " +
      s"/First ${header.length} /Length ${stmData.length} " +
      "/Filter /FlateDecode >> stream\n")
    out.write(stmData, 0, stmData.length)
    w("\nendstream endobj\n")
    // the cross-reference STREAM the trailer's /XRefStm will point at:
    // a complete index (W [1 4 2], Index [0 Size]) — type 2 for the
    // ObjStm residents, type 1 for in-file objects
    val xrefStmOff = out.size()
    fileOff(xrefStmNum) = xrefStmOff
    val rowW = 7
    val rows = new Array[Byte](size * rowW)
    def putRow(obj: Int, t: Int, f2: Long, f3: Int): Unit = {
      val o = obj * rowW
      rows(o) = t.toByte
      rows(o + 1) = ((f2 >> 24) & 0xff).toByte
      rows(o + 2) = ((f2 >> 16) & 0xff).toByte
      rows(o + 3) = ((f2 >> 8) & 0xff).toByte
      rows(o + 4) = (f2 & 0xff).toByte
      rows(o + 5) = ((f3 >> 8) & 0xff).toByte
      rows(o + 6) = (f3 & 0xff).toByte
    }
    putRow(0, 0, 0, 65535)
    inner.zipWithIndex.foreach { case ((num, _), at) =>
      putRow(num, 2, objStmNum.toLong, at)
    }
    fileOff.foreach { case (num, o) => putRow(num, 1, o, 0) }
    val coded =
      if (predictor == 12) {
        val pc = new Array[Byte](size * (rowW + 1))
        var r = 0
        while (r < size) {
          pc(r * (rowW + 1)) = 2 // PNG Up filter
          var i = 0
          while (i < rowW) {
            val up = if (r > 0) rows((r - 1) * rowW + i) & 0xff else 0
            pc(r * (rowW + 1) + 1 + i) =
              (((rows(r * rowW + i) & 0xff) - up) & 0xff).toByte
            i += 1
          }
          r += 1
        }
        pc
      } else rows
    val xData = deflate(coded)
    w(s"$xrefStmNum 0 obj << /Type /XRef /Size $size /Root 1 0 R " +
      s"/W [1 4 2] /Index [0 $size] " +
      (if (predictor == 12)
        s"/DecodeParms << /Predictor 12 /Columns $rowW >> " else "") +
      s"/Length ${xData.length} /Filter /FlateDecode >> stream\n")
    out.write(xData, 0, xData.length)
    w("\nendstream endobj\n")
    // the CLASSIC table startxref targets: hidden objects are FREE
    // entries (what a pre-1.5 reader skips); the trailer reveals the
    // stream via /XRefStm
    val xrefOff = out.size()
    w(s"xref\n0 $size\n")
    w("0000000000 65535 f \n")
    var j = 1
    while (j < size) {
      fileOff.get(j) match {
        case Some(o) => w(f"$o%010d 00000 n \n")
        case None => w("0000000000 00000 f \n")
      }
      j += 1
    }
    w(s"trailer << /Size $size /Root 1 0 R /XRefStm $xrefStmOff >>\n" +
      s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  /** Fixture emitter: a structurally-valid classic-xref PDF — catalog,
    * page-tree root with `nPages` kids, the page objects, one content
    * stream carrying `payload` verbatim (its length varies every
    * object offset after it — the xref entries are REAL computed byte
    * offsets), an /Encrypt dict when asked, then the xref table,
    * trailer, and startxref anchor. */
  def encodePdf(version: String, nPages: Int, encrypted: Boolean,
      payload: Array[Byte]): Array[Byte] = {
    require(version.matches("\\d\\.\\d"), s"version is M.m: $version")
    require(nPages >= 1, "at least one page")
    val out = new ByteArrayOutputStream(payload.length + 512)
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val offsets = scala.collection.mutable.ArrayBuffer[Long](0L) // obj 0
    w(s"%PDF-$version\n")
    offsets += out.size()
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    offsets += out.size()
    val kids = (0 until nPages).map(k => s"${3 + k} 0 R").mkString(" ")
    w(s"2 0 obj << /Type /Pages /Kids [$kids] /Count $nPages >> endobj\n")
    var k = 0
    while (k < nPages) {
      offsets += out.size()
      w(s"${3 + k} 0 obj << /Type /Page /Parent 2 0 R /Contents " +
        s"${3 + nPages} 0 R >> endobj\n")
      k += 1
    }
    offsets += out.size()
    w(s"${3 + nPages} 0 obj << /Length ${payload.length} >> stream\n")
    out.write(payload, 0, payload.length)
    w("\nendstream endobj\n")
    if (encrypted) {
      offsets += out.size()
      w(s"${4 + nPages} 0 obj << /Filter /Standard /V 2 >> endobj\n")
    }
    val size = offsets.length
    val xrefOff = out.size()
    w(s"xref\n0 $size\n")
    w("0000000000 65535 f \n")
    var j = 1
    while (j < size) {
      w(f"${offsets(j)}%010d 00000 n \n")
      j += 1
    }
    w(s"trailer << /Size $size /Root 1 0 R" +
      (if (encrypted) s" /Encrypt ${4 + nPages} 0 R" else "") +
      s" >>\nstartxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }
}
