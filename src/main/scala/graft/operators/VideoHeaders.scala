package graft.operators

import java.io.ByteArrayOutputStream

import graft.codec.Bytes

/** Pure-JVM video header codec: parse (and, for fixtures, emit) the
  * metadata-bearing prefix of MP4 / ISO-BMFF streams (public spec,
  * ISO/IEC 14496-12) — the VIDEO sibling of [[ImageHeaders]] /
  * [[AudioHeaders]], no codec libraries, no native deps.
  *
  * ISO-BMFF layout: a chain of boxes — u32 BIG-endian size (including
  * the 8-byte header), 4-char type; size 1 means a u64 largesize
  * follows, size 0 means "to end of file". Container boxes (moov,
  * trak) nest the chain recursively. The sniff needs exactly:
  *  - `ftyp` first (major brand identifies the family: isom/mp42/...);
  *  - `moov` > `mvhd`: movie timescale (u32) + duration (u32 at
  *    version 0, u64 at version 1) — duration/timescale = seconds;
  *  - `moov` > `trak` > `tkhd`: presentation width/height as 16.16
  *    fixed-point u32s at the end of the box (offset differs by
  *    version: v0 dur is u32, v1 u64). First track with nonzero dims
  *    wins (audio tracks carry 0×0).
  *
  * A curation pipeline runs this on every video blob: filter by
  * duration / resolution / brand BEFORE paying for demux on the
  * survivors. Decode failures return None — one corrupt blob must not
  * kill a corpus-scale pass. All offset math is Long: a hostile
  * declared box size near u32/u64 max ends the walk cleanly, never an
  * Int-overflow index crash (the [[AudioHeaders]] discipline).
  */
object VideoHeaders {

  /** Decoded MP4 metadata. `durationUnits` is in `timescale` units;
    * duration_ms = durationUnits · 1000 / timescale at the caller. */
  final case class Mp4Meta(brand: String, timescale: Int,
      durationUnits: Long, width: Int, height: Int, nTracks: Int)

  private def fourcc(b: Array[Byte], i: Long): String =
    new String(b, i.toInt, 4, "US-ASCII")

  /** One box header at `off`: (payloadStart, boxEnd, type). None =
    * malformed (undersized, truncated, or overflowing declared size). */
  private def boxAt(b: Array[Byte], off: Long,
      limit: Long): Option[(Long, Long, String)] = {
    if (off + 8 > limit) return None
    val size32 = Bytes.u32be(b, off)
    val typ = fourcc(b, off + 4)
    val (payload, end) =
      if (size32 == 0) (off + 8, limit) // box extends to the end
      else if (size32 == 1) {
        if (off + 16 > limit) return None
        val large = Bytes.u64be(b, off + 8)
        if (large < 16) return None
        (off + 16, off + large)
      } else {
        if (size32 < 8) return None
        (off + 8, off + size32)
      }
    if (end < payload || end > limit) return None
    Some((payload, end, typ))
  }

  /** Walk one box chain in [off, limit), calling `f` per box; stops
    * early if `f` returns false. Returns false on malformed chains. */
  private def walk(b: Array[Byte], off: Long, limit: Long)(
      f: (String, Long, Long) => Boolean): Boolean = {
    var o = off
    while (o < limit) {
      boxAt(b, o, limit) match {
        case Some((payload, end, typ)) =>
          if (!f(typ, payload, end)) return true
          o = end
        case None => return false
      }
    }
    true
  }

  def decodeMp4(b: Array[Byte]): Option[Mp4Meta] = {
    if (b == null || b.length < 16) return None
    // ftyp must lead (well-formed ISO-BMFF for interchange)
    val head = boxAt(b, 0L, b.length.toLong) match {
      case Some((p, e, "ftyp")) if e - p >= 8 => (p, e)
      case _ => return None
    }
    val brand = fourcc(b, head._1)
    var timescale = 0
    var duration = -1L
    var width = 0
    var height = 0
    var nTracks = 0
    def parseMvhd(p: Long, end: Long): Boolean = {
      if (end - p < 4) return false
      val version = b(p.toInt) & 0xff
      if (version == 0) {
        if (end - p < 20) return false
        timescale = Bytes.u32be(b, p + 12).toInt
        duration = Bytes.u32be(b, p + 16)
      } else {
        if (end - p < 32) return false
        timescale = Bytes.u32be(b, p + 20).toInt
        duration = Bytes.u64be(b, p + 24)
      }
      timescale > 0
    }
    def parseTkhd(p: Long, end: Long): Boolean = {
      if (end - p < 4) return false
      val version = b(p.toInt) & 0xff
      val dimsOff = if (version == 0) 76L else 88L
      if (end - p < dimsOff + 8) return false
      nTracks += 1
      if (width == 0 && height == 0) {
        // 16.16 fixed point; audio tracks are 0x0 — keep looking
        width = (Bytes.u32be(b, p + dimsOff) >> 16).toInt
        height = (Bytes.u32be(b, p + dimsOff + 4) >> 16).toInt
      }
      true
    }
    var sawMoov = false
    var bad = false
    val ok = walk(b, head._2, b.length.toLong) { (typ, p, e) =>
      if (typ == "moov") {
        sawMoov = true
        val moovOk = walk(b, p, e) { (t2, p2, e2) =>
          if (t2 == "mvhd") { if (!parseMvhd(p2, e2)) bad = true }
          else if (t2 == "trak") {
            val trakOk = walk(b, p2, e2) { (t3, p3, e3) =>
              if (t3 == "tkhd") { if (!parseTkhd(p3, e3)) bad = true }
              true
            }
            if (!trakOk) bad = true
          }
          !bad
        }
        if (!moovOk) bad = true
        false // moov found: stop the top-level walk
      } else true
    }
    if (!ok || bad || !sawMoov || timescale <= 0 || duration < 0) None
    else Some(Mp4Meta(brand, timescale, duration, width, height, nTracks))
  }

  /** Fixture emitter: byte-valid header-only MP4 — ftyp (major brand +
    * two compatible brands), a `free` box carrying `note` (variable
    * length, the walk must hop it), then moov [ mvhd v0 + nTracks ×
    * trak[tkhd v0] ] with the FIRST track carrying the dims and any
    * further tracks 0×0 (the audio-track shape). Stream length =
    * 24 + 8 + |note| + 8 + 108 + nTracks·100 — the formula the q241
    * oracle replays. */
  def encodeMp4(brand: String, timescale: Int, durationUnits: Long,
      width: Int, height: Int, nTracks: Int,
      note: Array[Byte]): Array[Byte] = {
    require(brand.length == 4, "brand is a 4cc")
    require(timescale > 0 && durationUnits >= 0 &&
      durationUnits <= 0xffffffffL, "mvhd v0 duration is u32")
    require(width >= 0 && width <= 0xffff && height >= 0 &&
      height <= 0xffff, "tkhd dims are 16.16 fixed")
    require(nTracks >= 1, "need at least one track")
    val out = new ByteArrayOutputStream(note.length + 160)
    def cc(s: String): Unit = out.write(s.getBytes("US-ASCII"), 0, 4)
    // ftyp
    Bytes.be32(out, 24); cc("ftyp"); cc(brand); Bytes.be32(out, 0); cc("isom"); cc("mp42")
    // free box the walk must hop
    Bytes.be32(out, 8L + note.length); cc("free"); out.write(note, 0, note.length)
    // moov
    val tkhdBox = 8 + 84
    val trakBox = 8 + tkhdBox
    val mvhdBox = 8 + 100
    Bytes.be32(out, 8L + mvhdBox + nTracks.toLong * trakBox); cc("moov")
    Bytes.be32(out, mvhdBox); cc("mvhd")
    Bytes.be32(out, 0) // version 0 + flags
    Bytes.be32(out, 0); Bytes.be32(out, 0) // ctime, mtime
    Bytes.be32(out, timescale); Bytes.be32(out, durationUnits)
    Bytes.be32(out, 0x00010000L); out.write(0x01); out.write(0x00) // rate 1.0, vol 1.0
    out.write(new Array[Byte](2 + 8), 0, 10) // reserved
    // identity matrix
    Bytes.be32(out, 0x00010000L); Bytes.be32(out, 0); Bytes.be32(out, 0)
    Bytes.be32(out, 0); Bytes.be32(out, 0x00010000L); Bytes.be32(out, 0)
    Bytes.be32(out, 0); Bytes.be32(out, 0); Bytes.be32(out, 0x40000000L)
    out.write(new Array[Byte](24), 0, 24) // pre_defined
    Bytes.be32(out, nTracks + 1L) // next_track_ID
    var t = 0
    while (t < nTracks) {
      Bytes.be32(out, trakBox); cc("trak")
      Bytes.be32(out, tkhdBox); cc("tkhd")
      Bytes.be32(out, 0) // version 0 + flags
      Bytes.be32(out, 0); Bytes.be32(out, 0) // ctime, mtime
      Bytes.be32(out, t + 1L) // track_ID
      Bytes.be32(out, 0) // reserved
      Bytes.be32(out, durationUnits)
      out.write(new Array[Byte](8), 0, 8) // reserved
      out.write(new Array[Byte](8), 0, 8) // layer/alt/volume/reserved
      Bytes.be32(out, 0x00010000L); Bytes.be32(out, 0); Bytes.be32(out, 0)
      Bytes.be32(out, 0); Bytes.be32(out, 0x00010000L); Bytes.be32(out, 0)
      Bytes.be32(out, 0); Bytes.be32(out, 0); Bytes.be32(out, 0x40000000L)
      val (w, h) = if (t == 0) (width, height) else (0, 0)
      Bytes.be32(out, w.toLong << 16); Bytes.be32(out, h.toLong << 16)
      t += 1
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // MP4 ilst tags — the metadata atom family iTunes defined and the
  // whole MP4/M4A ecosystem adopted (moov > udta > meta > ilst, each
  // item a 4cc box wrapping a 'data' box: u32 type/flags — 1 = UTF-8
  // text, 0 = binary — u32 locale, payload). Completes the tag triad:
  // ID3 (MP3), Vorbis comments (FLAC/Ogg), ilst (MP4/M4A). The ©-tag
  // 4ccs lead with byte 0xA9 (NOT ASCII), so the item walk compares
  // raw bytes rather than decoded strings.
  // ------------------------------------------------------------------

  /** Parsed ilst metadata. `track`/`trackTotal` come from the trkn
    * binary payload (u16 pair); `nItems` counts every ilst child,
    * recognized or not. */
  final case class Mp4Tags(title: Option[String], artist: Option[String],
      album: Option[String], day: Option[String],
      track: Option[Int], trackTotal: Option[Int], nItems: Int)

  private def tagIs(b: Array[Byte], at: Long, c0: Int, c1: Char,
      c2: Char, c3: Char): Boolean = {
    val o = at.toInt
    (b(o) & 0xff) == c0 && b(o + 1) == c1 && b(o + 2) == c2 && b(o + 3) == c3
  }

  /** The 'data' box inside one ilst item: (typeFlags, payload bytes).
    * None on a malformed or missing data child. */
  private def dataOf(b: Array[Byte], p: Long,
      e: Long): Option[(Long, Array[Byte])] = {
    var found: Option[(Long, Array[Byte])] = None
    val ok = walk(b, p, e) { (typ, p2, e2) =>
      if (typ == "data" && e2 - p2 >= 8) {
        found = Some((Bytes.u32be(b, p2),
          java.util.Arrays.copyOfRange(b, (p2 + 8).toInt, e2.toInt)))
        false
      } else true
    }
    if (ok) found else None
  }

  /** Tag extraction: ftyp gate, then moov > udta > meta (full box) >
    * ilst; items are matched by raw 4cc bytes (©nam/©ART/©alb/©day
    * UTF-8 text, trkn u16-pair binary). Streams without an ilst yield
    * None — "untagged" must stay distinguishable from an empty tag
    * set, the [[AudioHeaders.decodeAudioTags]] contract. */
  def decodeMp4Tags(b: Array[Byte]): Option[Mp4Tags] = {
    if (b == null || b.length < 16) return None
    val head = boxAt(b, 0L, b.length.toLong) match {
      case Some((p, e, "ftyp")) if e - p >= 8 => (p, e)
      case _ => return None
    }
    var title, artist, album, day: Option[String] = None
    var track, trackTotal: Option[Int] = None
    var nItems = 0
    var sawIlst = false
    var bad = false
    def parseIlst(p: Long, e: Long): Unit = {
      sawIlst = true
      var o = p
      while (o < e && !bad) {
        boxAt(b, o, e) match {
          case Some((p2, e2, _)) =>
            nItems += 1
            def text: Option[String] = dataOf(b, p2, e2).collect {
              case (1L, bytes) => new String(bytes, "UTF-8")
            }
            if (tagIs(b, o + 4, 0xa9, 'n', 'a', 'm')) title = text
            else if (tagIs(b, o + 4, 0xa9, 'A', 'R', 'T')) artist = text
            else if (tagIs(b, o + 4, 0xa9, 'a', 'l', 'b')) album = text
            else if (tagIs(b, o + 4, 0xa9, 'd', 'a', 'y')) day = text
            else if (tagIs(b, o + 4, 't', 'r', 'k', 'n'))
              dataOf(b, p2, e2) match {
                case Some((0L, bytes)) if bytes.length >= 6 =>
                  track = Some(Bytes.u16be(bytes, 2))
                  trackTotal = Some(Bytes.u16be(bytes, 4))
                case _ => ()
              }
            o = e2
          case None => bad = true
        }
      }
    }
    val ok = walk(b, head._2, b.length.toLong) { (typ, p, e) =>
      if (typ == "moov") {
        val moovOk = walk(b, p, e) { (t2, p2, e2) =>
          if (t2 == "udta") {
            val udtaOk = walk(b, p2, e2) { (t3, p3, e3) =>
              if (t3 == "meta") {
                if (e3 - p3 < 4) bad = true
                else {
                  // meta is a full box: hop version/flags
                  val metaOk = walk(b, p3 + 4, e3) { (t4, p4, e4) =>
                    if (t4 == "ilst") parseIlst(p4, e4)
                    !bad
                  }
                  if (!metaOk) bad = true
                }
              }
              !bad
            }
            if (!udtaOk) bad = true
          }
          !bad
        }
        if (!moovOk) bad = true
        false // moov found: stop the top-level walk
      } else true
    }
    if (!ok || bad || !sawIlst) None
    else Some(Mp4Tags(title, artist, album, day, track, trackTotal, nItems))
  }

  /** Fixture emitter: [[encodeMp4]]'s exact layout plus a moov-level
    * udta[meta[hdlr('mdir') + ilst[©nam/©ART/©alb/©day text items +
    * trkn]]]. Text item size = 24 + |utf8|; trkn item = 32; udta =
    * 61 + Σitems (8 udta + 12 meta fullbox + 33 hdlr + 8 ilst).
    * Stream length = encodeMp4's formula + udta = 148 + |note| +
    * 100·nTracks + 189 + Σ|text| — pinned by spec and replayed by the
    * q381 oracle. */
  def encodeMp4Tagged(brand: String, timescale: Int, durationUnits: Long,
      width: Int, height: Int, nTracks: Int, note: Array[Byte],
      title: String, artist: String, album: String, day: String,
      track: Int, trackTotal: Int): Array[Byte] = {
    require(track >= 0 && track <= 0xffff && trackTotal >= 0 &&
      trackTotal <= 0xffff, "trkn pair is u16")
    val plain = encodeMp4(brand, timescale, durationUnits, width, height,
      nTracks, note)
    val texts = Seq(
      Array(0xa9.toByte, 'n'.toByte, 'a'.toByte, 'm'.toByte) ->
        title.getBytes("UTF-8"),
      Array(0xa9.toByte, 'A'.toByte, 'R'.toByte, 'T'.toByte) ->
        artist.getBytes("UTF-8"),
      Array(0xa9.toByte, 'a'.toByte, 'l'.toByte, 'b'.toByte) ->
        album.getBytes("UTF-8"),
      Array(0xa9.toByte, 'd'.toByte, 'a'.toByte, 'y'.toByte) ->
        day.getBytes("UTF-8"))
    val ilstBox = 8 + texts.map(24 + _._2.length).sum + 32
    val hdlrBox = 8 + 4 + 4 + 4 + 12 + 1
    val metaBox = 8 + 4 + hdlrBox + ilstBox
    val udtaBox = 8 + metaBox
    val out = new ByteArrayOutputStream(plain.length + udtaBox)
    def cc(s: String): Unit = out.write(s.getBytes("US-ASCII"), 0, 4)
    // copy everything, then grow the trailing moov by udtaBox. The
    // moov box is the LAST top-level box in encodeMp4's layout, so its
    // u32 size sits right after ftyp(24) + free(8+|note|).
    out.write(plain, 0, plain.length)
    val bytes = out.toByteArray
    val moovAt = 24 + 8 + note.length
    Bytes.putBe32(bytes, moovAt, Bytes.i32be(bytes, moovAt).toLong + udtaBox)
    val tail = new ByteArrayOutputStream(udtaBox)
    def tcc(s: String): Unit = tail.write(s.getBytes("US-ASCII"), 0, 4)
    Bytes.be32(tail, udtaBox.toLong); tcc("udta")
    Bytes.be32(tail, metaBox.toLong); tcc("meta"); Bytes.be32(tail, 0) // fullbox ver/flags
    Bytes.be32(tail, hdlrBox.toLong); tcc("hdlr")
    Bytes.be32(tail, 0); Bytes.be32(tail, 0); tcc("mdir")
    tail.write(new Array[Byte](12), 0, 12); tail.write(0) // empty name
    Bytes.be32(tail, ilstBox.toLong); tcc("ilst")
    texts.foreach { case (tag, payload) =>
      Bytes.be32(tail, 24L + payload.length); tail.write(tag, 0, 4)
      Bytes.be32(tail, 16L + payload.length); tcc("data")
      Bytes.be32(tail, 1L); Bytes.be32(tail, 0L) // UTF-8 type, locale
      tail.write(payload, 0, payload.length)
    }
    Bytes.be32(tail, 32L); tcc("trkn")
    Bytes.be32(tail, 24L); tcc("data"); Bytes.be32(tail, 0L); Bytes.be32(tail, 0L)
    tail.write(0); tail.write(0)
    tail.write((track >> 8) & 0xff); tail.write(track & 0xff)
    tail.write((trackTotal >> 8) & 0xff); tail.write(trackTotal & 0xff)
    tail.write(0); tail.write(0)
    bytes ++ tail.toByteArray
  }

  // ------------------------------------------------------------------
  // AVIF / HEIC — the modern web-crawl image containers (public spec,
  // ISO/IEC 23008-12 HEIF on the 14496-12 box grammar above). Same box
  // walk, different tree: dims live in meta > iprp > ipco > ispe, bit
  // depth in the sibling pixi. `meta` is a FULL box (4-byte
  // version/flags after the header) — the one wrinkle vs moov.
  // ------------------------------------------------------------------

  private val HeifBrands = Set("avif", "avis", "heic", "heix", "mif1", "msf1")

  /** HEIF image sniff: ftyp brand gate, then the meta/iprp/ipco walk to
    * ispe (u32 BE width/height) and pixi (bits per channel — first
    * channel; 8 assumed when absent, the spec default in practice).
    * Returns [[ImageHeaders.ImageMeta]] so it slots into the image
    * decode chain; format is the major brand family ("avif"/"heic"). */
  def decodeAvif(b: Array[Byte]): Option[ImageHeaders.ImageMeta] = {
    if (b == null || b.length < 16) return None
    val head = boxAt(b, 0L, b.length.toLong) match {
      case Some((p, e, "ftyp")) if e - p >= 8 => (p, e)
      case _ => return None
    }
    val brand = fourcc(b, head._1)
    if (!HeifBrands.contains(brand)) return None
    val fmt = if (brand.startsWith("he") || brand == "msf1") "heic" else "avif"
    var width = 0L
    var height = 0L
    var depth = 8
    var sawIspe = false
    var bad = false
    def parseIpco(p: Long, e: Long): Unit = {
      val ok = walk(b, p, e) { (t, p2, e2) =>
        if (t == "ispe") {
          // fullbox: version/flags u32, then width/height u32 BE
          if (e2 - p2 < 12) bad = true
          else { width = Bytes.u32be(b, p2 + 4); height = Bytes.u32be(b, p2 + 8); sawIspe = true }
        } else if (t == "pixi") {
          // fullbox: version/flags, u8 channel count, u8 bits each
          if (e2 - p2 < 6) bad = true
          else depth = b((p2 + 5).toInt) & 0xff
        }
        !bad
      }
      if (!ok) bad = true
    }
    val ok = walk(b, head._2, b.length.toLong) { (typ, p, e) =>
      if (typ == "meta") {
        if (e - p < 4) { bad = true; false }
        else {
          // meta is a full box: hop version/flags, then walk children
          val metaOk = walk(b, p + 4, e) { (t2, p2, e2) =>
            if (t2 == "iprp") {
              val iprpOk = walk(b, p2, e2) { (t3, p3, e3) =>
                if (t3 == "ipco") parseIpco(p3, e3)
                !bad
              }
              if (!iprpOk) bad = true
            }
            !bad
          }
          if (!metaOk) bad = true
          false // meta found: stop the top-level walk
        }
      } else true
    }
    if (!ok || bad || !sawIspe || width <= 0 || height <= 0 ||
      width > Int.MaxValue || height > Int.MaxValue || depth <= 0) None
    else Some(ImageHeaders.ImageMeta(fmt, width.toInt, height.toInt, depth))
  }

  /** Fixture emitter: byte-valid header-only AVIF/HEIC — ftyp (major
    * brand + two compatible), a `free` box carrying `note` (the walk
    * must hop it), then meta[fullbox: hdlr('pict') + iprp[ipco[ispe +
    * pixi]]]. Stream length = 24 + 8 + |note| + 97 — the formula the
    * q260 oracle replays. */
  def encodeAvif(brand: String, width: Int, height: Int, depth: Int,
      note: Array[Byte]): Array[Byte] = {
    require(brand.length == 4, "brand is a 4cc")
    require(width >= 1 && height >= 1, s"dims must be positive: ${width}x$height")
    require(depth >= 1 && depth <= 255, "pixi bits are u8")
    val out = new ByteArrayOutputStream(note.length + 144)
    def cc(s: String): Unit = out.write(s.getBytes("US-ASCII"), 0, 4)
    Bytes.be32(out, 24); cc("ftyp"); cc(brand); Bytes.be32(out, 0); cc("mif1"); cc("miaf")
    Bytes.be32(out, 8L + note.length); cc("free"); out.write(note, 0, note.length)
    val ispeBox = 8 + 12
    val pixiBox = 8 + 4 + 1 + 3 // fullbox + channel count + 3 channels
    val ipcoBox = 8 + ispeBox + pixiBox
    val iprpBox = 8 + ipcoBox
    val hdlrBox = 8 + 4 + 4 + 4 + 12 + 1 // fullbox, pre_def, type, resv, name
    Bytes.be32(out, 8L + 4 + hdlrBox + iprpBox); cc("meta"); Bytes.be32(out, 0) // fullbox ver/flags
    Bytes.be32(out, hdlrBox); cc("hdlr"); Bytes.be32(out, 0); Bytes.be32(out, 0); cc("pict")
    out.write(new Array[Byte](12), 0, 12); out.write(0) // empty name
    Bytes.be32(out, iprpBox); cc("iprp")
    Bytes.be32(out, ipcoBox); cc("ipco")
    Bytes.be32(out, ispeBox); cc("ispe"); Bytes.be32(out, 0)
    Bytes.be32(out, width.toLong); Bytes.be32(out, height.toLong)
    Bytes.be32(out, pixiBox); cc("pixi"); Bytes.be32(out, 0); out.write(3)
    out.write(depth); out.write(depth); out.write(depth)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // HEIF item-level resolution (round 16): pitm → ipma → ipco
  // ------------------------------------------------------------------

  /** The PRIMARY item's dims plus the item/property inventory. */
  final case class AvifItems(format: String, primaryWidth: Long,
      primaryHeight: Long, nItems: Int, nProps: Int)

  /** STRICT HEIF item resolution (ISO 23008-12): pitm names the
    * primary item, ipma associates items with 1-BASED indexes into
    * ipco's property list, and the primary's associated `ispe` is the
    * canvas — real files carry thumbnail/alpha ispe properties too,
    * so "first ispe" (the [[decodeAvif]] sniff's shortcut) is wrong
    * the moment a decoy precedes the primary's. Handles pitm v0/v1
    * (u16/u32 item ids), iinf v0/v1 entry counts, and both ipma
    * association widths (7-bit, and 15-bit when flags&1). Missing
    * pitm/iinf/ipma/ipco, out-of-range property indexes, or a primary
    * with no associated ispe → None. */
  def decodeAvifItems(b: Array[Byte]): Option[AvifItems] = {
    if (b == null || b.length < 16) return None
    val head = boxAt(b, 0L, b.length.toLong) match {
      case Some((p, e, "ftyp")) if e - p >= 8 => (p, e)
      case _ => return None
    }
    val brand = fourcc(b, head._1)
    if (!HeifBrands.contains(brand)) return None
    val fmt = if (brand.startsWith("he") || brand == "msf1") "heic" else "avif"
    var pitm = -1L
    var nItems = -1
    val props = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    var assoc = Map.empty[Long, Vector[Int]]
    var sawIpma = false
    var bad = false
    def parseIpma(p: Long, e: Long): Unit = {
      if (e - p < 8) { bad = true; return }
      val ver = b(p.toInt) & 0xff
      val wide = (Bytes.u32be(b, p) & 1L) == 1L // flags bit 0: 15-bit indexes
      val entries = Bytes.u32be(b, p + 4)
      var o = p + 8
      var i = 0L
      val out = Map.newBuilder[Long, Vector[Int]]
      while (i < entries) {
        if (o + (if (ver < 1) 3 else 5) > e) { bad = true; return }
        val id = if (ver < 1) Bytes.u16be(b, o).toLong else Bytes.u32be(b, o)
        o += (if (ver < 1) 2 else 4)
        val cnt = b(o.toInt) & 0xff
        o += 1
        val ixs = Vector.newBuilder[Int]
        var j = 0
        while (j < cnt) {
          if (wide) {
            if (o + 2 > e) { bad = true; return }
            ixs += Bytes.u16be(b, o) & 0x7fff
            o += 2
          } else {
            if (o + 1 > e) { bad = true; return }
            ixs += b(o.toInt) & 0x7f
            o += 1
          }
          j += 1
        }
        out += id -> ixs.result()
        i += 1
      }
      assoc = out.result()
      sawIpma = true
    }
    val ok = walk(b, head._2, b.length.toLong) { (typ, p, e) =>
      if (typ == "meta") {
        if (e - p < 4) { bad = true; false }
        else {
          val metaOk = walk(b, p + 4, e) { (t2, p2, e2) =>
            t2 match {
              case "pitm" =>
                if (e2 - p2 < 6) bad = true
                else {
                  val ver = b(p2.toInt) & 0xff
                  pitm =
                    if (ver < 1) Bytes.u16be(b, p2 + 4).toLong
                    else if (e2 - p2 >= 8) Bytes.u32be(b, p2 + 4)
                    else { bad = true; -1L }
                }
              case "iinf" =>
                if (e2 - p2 < 6) bad = true
                else {
                  val ver = b(p2.toInt) & 0xff
                  val n =
                    if (ver < 1) Bytes.u16be(b, p2 + 4).toLong
                    else if (e2 - p2 >= 8) Bytes.u32be(b, p2 + 4)
                    else { bad = true; -1L }
                  if (n > 100000) bad = true else nItems = n.toInt
                }
              case "iprp" =>
                val iprpOk = walk(b, p2, e2) { (t3, p3, e3) =>
                  if (t3 == "ipco") {
                    val ipcoOk = walk(b, p3, e3) { (t4, p4, e4) =>
                      props += ((t4, p4, e4)); true
                    }
                    if (!ipcoOk) bad = true
                  } else if (t3 == "ipma") parseIpma(p3, e3)
                  !bad
                }
                if (!iprpOk) bad = true
              case _ =>
            }
            !bad
          }
          if (!metaOk) bad = true
          false
        }
      } else true
    }
    if (!ok || bad || pitm < 0 || nItems < 1 || !sawIpma ||
      props.isEmpty) return None
    val mine = assoc.getOrElse(pitm, return None)
    var w = -1L
    var h = -1L
    mine.foreach { ix =>
      if (ix < 1 || ix > props.length) return None // 1-based, in range
      val (t, p, e) = props(ix - 1)
      if (t == "ispe" && w < 0) {
        if (e - p < 12) return None
        w = Bytes.u32be(b, p + 4)
        h = Bytes.u32be(b, p + 8)
      }
    }
    if (w <= 0 || h <= 0) return None
    Some(AvifItems(fmt, w, h, nItems, props.length))
  }

  /** Item-level fixture: ftyp, then meta[fullbox: hdlr + pitm(v by
    * `widePitm`) + iinf with `nItems` infe v2 entries + iprp[ipco[
    * ispe(THUMB decoy) + pixi + ispe(primary)] + ipma]] — the primary
    * item (id 1) associates to the THIRD property, so first-ispe
    * shortcuts read the thumbnail and item-resolving decoders read the
    * canvas. `wideAssoc` flips ipma to 15-bit association indexes. */
  def encodeAvifItems(brand: String, width: Int, height: Int,
      thumbW: Int, thumbH: Int, nItems: Int, widePitm: Boolean,
      wideAssoc: Boolean): Array[Byte] = {
    require(brand.length == 4 && HeifBrands.contains(brand), brand)
    require(nItems >= 2 && nItems <= 200, "items incl. the thumbnail")
    val out = new ByteArrayOutputStream(512)
    def cc(s: String): Unit = out.write(s.getBytes("US-ASCII"), 0, 4)
    Bytes.be32(out, 24); cc("ftyp"); cc(brand); Bytes.be32(out, 0); cc("mif1"); cc("miaf")
    val hdlrBox = 8 + 4 + 4 + 4 + 12 + 1
    val pitmBox = 8 + 4 + (if (widePitm) 4 else 2)
    val infeBox = 8 + 4 + 2 + 2 + 4 + 5 // v2: ids, type, "itemN\0"-ish
    val iinfBox = 8 + 4 + 2 + nItems * infeBox
    val ispeBox = 8 + 12
    val pixiBox = 8 + 4 + 1 + 3
    val ipcoBox = 8 + ispeBox + pixiBox + ispeBox
    // ipma: fullbox + entry_count + 2 entries (primary: 2 assocs,
    // thumb: 1 assoc), ids u16, index width by wideAssoc
    val aw = if (wideAssoc) 2 else 1
    val ipmaBox = 8 + 4 + 4 + (2 + 1 + 2 * aw) + (2 + 1 + 1 * aw)
    val iprpBox = 8 + ipcoBox + ipmaBox
    Bytes.be32(out, 8L + 4 + hdlrBox + pitmBox + iinfBox + iprpBox); cc("meta")
    Bytes.be32(out, 0) // meta fullbox version/flags
    Bytes.be32(out, hdlrBox); cc("hdlr"); Bytes.be32(out, 0); Bytes.be32(out, 0); cc("pict")
    out.write(new Array[Byte](12), 0, 12); out.write(0)
    Bytes.be32(out, pitmBox); cc("pitm")
    if (widePitm) { Bytes.be32(out, 0x01000000L); Bytes.be32(out, 1L) } // v1: u32 item id
    else { Bytes.be32(out, 0); Bytes.be16(out, 1) } // v0: u16 item id
    Bytes.be32(out, iinfBox); cc("iinf"); Bytes.be32(out, 0); Bytes.be16(out, nItems)
    var i = 0
    while (i < nItems) {
      Bytes.be32(out, infeBox); cc("infe"); Bytes.be32(out, 0x02000000L) // infe version 2
      Bytes.be16(out, i + 1); Bytes.be16(out, 0) // item id, protection
      cc(if (i == 0) "av01" else "thmb")
      out.write(('a' + (i % 26)).toChar); out.write(0) // short name
      out.write(0); out.write(0); out.write(0) // pad to the fixed size
      i += 1
    }
    Bytes.be32(out, iprpBox); cc("iprp")
    Bytes.be32(out, ipcoBox); cc("ipco")
    Bytes.be32(out, ispeBox); cc("ispe"); Bytes.be32(out, 0) // property 1: the THUMB decoy
    Bytes.be32(out, thumbW.toLong); Bytes.be32(out, thumbH.toLong)
    Bytes.be32(out, pixiBox); cc("pixi"); Bytes.be32(out, 0); out.write(3) // property 2
    out.write(8); out.write(8); out.write(8)
    Bytes.be32(out, ispeBox); cc("ispe"); Bytes.be32(out, 0) // property 3: the primary
    Bytes.be32(out, width.toLong); Bytes.be32(out, height.toLong)
    Bytes.be32(out, ipmaBox); cc("ipma")
    Bytes.be32(out, if (wideAssoc) 1L else 0L) // version 0; flags bit0 = wide
    Bytes.be32(out, 2L) // entry_count
    def assocIx(essential: Boolean, ix: Int): Unit =
      if (wideAssoc) Bytes.be16(out, (if (essential) 0x8000 else 0) | ix)
      else out.write((if (essential) 0x80 else 0) | ix)
    Bytes.be16(out, 1); out.write(2) // primary item: 2 associations
    assocIx(essential = true, 3) // its ispe is property THREE
    assocIx(essential = false, 2)
    Bytes.be16(out, 2); out.write(1) // thumbnail item: 1 association
    assocIx(essential = false, 1)
    out.toByteArray
  }
}
