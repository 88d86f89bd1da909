package graft.operators

import java.io.ByteArrayOutputStream

import graft.codec.Bytes
import graft.engine.Tables

/** ID3v2 tag parsing — the metadata walk `AudioHeaders.decodeMp3` only
  * HOPS (it syncsafe-skips the tag to reach the first MPEG frame; this
  * module reads what's inside).
  *
  * An audio curation pipeline keys on tag metadata constantly: artist/
  * album grouping for leakage-safe splits, title dedup, track-number
  * sanity. The walk covers the two wire formats that actually differ:
  * ID3v2.3 (frame sizes are PLAIN big-endian u32) and ID3v2.4 (frame
  * sizes are SYNCSAFE u28 — the classic cross-version trap; a parser
  * that applies one rule to the other misreads every frame after the
  * first whose size has a high bit per byte ≥ 0x80). Text frames
  * decode ISO-8859-1 (encoding byte 0) and UTF-8 (encoding byte 3);
  * the walk stops at padding and never reads past the declared tag
  * size. Corrupt → None (the family posture); parse is map-only.
  *
  * Reference analogue: the map-side per-record parse slot
  * (mapper.py:21-41); the format is the published id3.org spec.
  */
object Id3 {

  private def syncsafe(v: Int): Array[Byte] = Array(
    ((v >> 21) & 0x7f).toByte, ((v >> 14) & 0x7f).toByte,
    ((v >> 7) & 0x7f).toByte, (v & 0x7f).toByte)

  private def readSyncsafe(b: Array[Byte], off: Int): Int =
    ((b(off) & 0x7f) << 21) | ((b(off + 1) & 0x7f) << 14) |
      ((b(off + 2) & 0x7f) << 7) | (b(off + 3) & 0x7f)

  /** Byte-valid ID3v2.3 or v2.4 tag: header with syncsafe total size,
    * text frames (encoding byte 0 = ISO-8859-1), `padding` zero bytes.
    * The frame SIZE field follows the version's rule. With `unsync`,
    * the whole tag body is unsynchronised (v2.3 §5: every 0xFF gets a
    * 0x00 inserted after it so no false MPEG sync survives; frame
    * sizes describe the ORIGINAL bytes, the header size the escaped
    * on-disk bytes) and header flag 0x80 is set. */
  def encodeId3(version: Int, frames: Seq[(String, String)],
      padding: Int, unsync: Boolean = false): Array[Byte] = {
    require(version == 3 || version == 4, s"id3v2.$version unsupported")
    val body = new ByteArrayOutputStream(256)
    frames.foreach { case (fid, text) =>
      require(fid.length == 4, s"frame id $fid")
      body.write(fid.getBytes("US-ASCII"), 0, 4)
      val payload = text.getBytes("ISO-8859-1")
      val size = payload.length + 1 // + encoding byte
      if (version == 4) body.write(syncsafe(size), 0, 4)
      else {
        body.write((size >> 24) & 0xff); body.write((size >> 16) & 0xff)
        body.write((size >> 8) & 0xff); body.write(size & 0xff)
      }
      body.write(0); body.write(0) // frame flags
      body.write(0) // text encoding: ISO-8859-1
      body.write(payload, 0, payload.length)
    }
    (0 until padding).foreach(_ => body.write(0))
    val rawBody = body.toByteArray
    val bodyBytes =
      if (!unsync) rawBody
      else {
        val esc = new ByteArrayOutputStream(rawBody.length + 16)
        rawBody.foreach { b =>
          esc.write(b.toInt)
          if ((b & 0xff) == 0xff) esc.write(0)
        }
        esc.toByteArray
      }
    val out = new ByteArrayOutputStream(bodyBytes.length + 10)
    out.write('I'); out.write('D'); out.write('3')
    out.write(version); out.write(0) // version, revision
    out.write(if (unsync) 0x80 else 0) // flags
    out.write(syncsafe(bodyBytes.length), 0, 4)
    out.write(bodyBytes, 0, bodyBytes.length)
    out.toByteArray
  }

  /** Byte-valid ID3v2.4 tag exercising the v2.4-only wire features:
    * PER-FRAME unsynchronisation (format flag 0x02 — the frame size
    * describes the ESCAPED on-disk bytes, unlike v2.3's whole-tag
    * rule), the data-length indicator (flag 0x01 — a leading syncsafe
    * u28 carrying the restored length), and the UTF-16 text encodings
    * (byte 1 = BOM'd UTF-16, byte 2 = UTF-16BE). Each frame is
    * (id, text, encodingByte, frameUnsync, dataLengthIndicator). */
  def encodeId3v24(frames: Seq[(String, String, Int, Boolean, Boolean)],
      padding: Int): Array[Byte] = {
    val body = new ByteArrayOutputStream(256)
    frames.foreach { case (fid, text, enc, unsync, dli) =>
      require(fid.length == 4, s"frame id $fid")
      val textBytes = enc match {
        case 0 => text.getBytes("ISO-8859-1")
        case 1 => // UTF-16 with BOM (little-endian body)
          Array(0xff.toByte, 0xfe.toByte) ++ text.getBytes("UTF-16LE")
        case 2 => text.getBytes("UTF-16BE")
        case 3 => text.getBytes("UTF-8")
        case _ => throw new IllegalArgumentException(s"encoding $enc")
      }
      val data = enc.toByte +: textBytes
      val escaped =
        if (!unsync) data
        else {
          val esc = new ByteArrayOutputStream(data.length + 8)
          data.foreach { b =>
            esc.write(b.toInt)
            if ((b & 0xff) == 0xff) esc.write(0)
          }
          esc.toByteArray
        }
      val onDisk = (if (dli) syncsafe(data.length) else Array.empty[Byte]) ++
        escaped
      body.write(fid.getBytes("US-ASCII"), 0, 4)
      body.write(syncsafe(onDisk.length), 0, 4)
      body.write(0) // status flags
      body.write((if (unsync) 0x02 else 0) | (if (dli) 0x01 else 0))
      body.write(onDisk, 0, onDisk.length)
    }
    (0 until padding).foreach(_ => body.write(0))
    val bodyBytes = body.toByteArray
    val out = new ByteArrayOutputStream(bodyBytes.length + 10)
    out.write('I'); out.write('D'); out.write('3')
    out.write(4); out.write(0)
    out.write(0) // per-frame unsync only; no whole-tag flag in v2.4
    out.write(syncsafe(bodyBytes.length), 0, 4)
    out.write(bodyBytes, 0, bodyBytes.length)
    out.toByteArray
  }

  final case class Id3Tag(version: Int, frames: Map[String, String],
      tagBytes: Int)

  /** Walk an ID3v2.3 / v2.4 tag: header, per-frame id + version-ruled
    * size + flags + text payload (encoding 0 latin-1 / 3 utf-8), stop
    * at padding, never read past the declared size. Non-text frames
    * are hopped by size. Corrupt / other versions → None. */
  def parseId3(bytes: Array[Byte]): Option[Id3Tag] =
    try {
      if (bytes.length < 10 || bytes(0) != 'I' || bytes(1) != 'D' ||
        bytes(2) != '3') return None
      val version = bytes(3) & 0xff
      if (version != 3 && version != 4) return None
      val size = readSyncsafe(bytes, 6)
      if (10 + size > bytes.length) return None
      // v2.3 whole-tag unsynchronisation: drop the 0x00 inserted after
      // every 0xFF before the frame walk (frame sizes describe the
      // restored bytes; the header size described the on-disk bytes)
      val unsync = (bytes(5) & 0x80) != 0
      val (walkBytes, off0, end0) =
        if (!unsync) (bytes, 10, 10 + size)
        else {
          val restored = new ByteArrayOutputStream(size)
          var i = 10
          while (i < 10 + size) {
            val b = bytes(i)
            restored.write(b.toInt)
            if ((b & 0xff) == 0xff && i + 1 < 10 + size &&
              bytes(i + 1) == 0) i += 1
            i += 1
          }
          val r = restored.toByteArray
          (r, 0, r.length)
        }
      var off = off0
      val end = end0
      val bytes2 = walkBytes
      val frames = Map.newBuilder[String, String]
      var done = false
      while (!done && off + 10 <= end) {
        if (bytes2(off) == 0) done = true // padding
        else {
          val fid = new String(bytes2, off, 4, "US-ASCII")
          if (!fid.forall(c => c.isUpper || c.isDigit)) return None
          val fsize = if (version == 4) readSyncsafe(bytes2, off + 4)
          else Bytes.i32be(bytes2, off + 4)
          if (fsize < 0 || off + 10 + fsize > end) return None
          if (fid.startsWith("T") && fsize >= 1) {
            // v2.4 format flags: 0x01 data-length indicator (leading
            // syncsafe u28 with the RESTORED length), 0x02 per-frame
            // unsynchronisation (the size field counts ESCAPED bytes)
            val fmtFlags = if (version == 4) bytes2(off + 9) & 0xff else 0
            var dataOff = off + 10
            var dataLen = fsize
            if ((fmtFlags & 0x01) != 0) {
              if (dataLen < 4) return None
              dataOff += 4; dataLen -= 4
            }
            val data: Array[Byte] =
              if ((fmtFlags & 0x02) == 0)
                java.util.Arrays.copyOfRange(bytes2, dataOff,
                  dataOff + dataLen)
              else {
                val restored = new ByteArrayOutputStream(dataLen)
                var i = dataOff
                val stop = dataOff + dataLen
                while (i < stop) {
                  val b = bytes2(i)
                  restored.write(b.toInt)
                  if ((b & 0xff) == 0xff && i + 1 < stop &&
                    bytes2(i + 1) == 0) i += 1
                  i += 1
                }
                restored.toByteArray
              }
            if ((fmtFlags & 0x01) != 0 &&
              readSyncsafe(bytes2, off + 10) != data.length)
              return None // DLI must match the restored length
            if (data.nonEmpty) {
              val charset = (data(0) & 0xff) match {
                case 0 => "ISO-8859-1"
                case 1 => "UTF-16" // BOM-directed (valid in v2.3 too)
                case 2 if version == 4 => "UTF-16BE"
                case 3 => "UTF-8"
                case _ => null
              }
              if (charset != null) {
                val raw = new String(data, 1, data.length - 1, charset)
                // v2.4 allows a trailing NUL / multiple values; take first
                frames += fid -> raw.takeWhile(_ != '\u0000')
              }
            }
          }
          off += 10 + fsize
        }
      }
      Some(Id3Tag(version, frames.result(), 10 + size))
    } catch { case _: Exception => None }

  final case class Id3Row(doc_id: Long, version: Int, n_frames: Int,
      title: String, artist: String, album: String, track: Int,
      tag_bytes: Long)

  val defs: Seq[QueryDef] = Seq(

    // ----- ID3v2 tag walk: v2.3 plain vs v2.4 syncsafe frame sizes ----
    // Even docs carry v2.3 tags, odd v2.4 — the SAME five text frames,
    // different size coding; sizes are pure length arithmetic the
    // oracle replays (title embeds doc_id so frame lengths vary with
    // the id's digit count). A parser applying one version's size rule
    // to the other misreads the walk and lands in tag_bytes/n_frames.
    QueryDef(
      "q343_id3_tag_walk",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val version = 3 + (id % 2).toInt
            val frames = Seq(
              "TIT2" -> s"Title $id",
              "TPE1" -> s"Artist ${id % 50}",
              "TALB" -> s"Album ${id % 20}",
              "TRCK" -> s"${id % 12 + 1}",
              "TYER" -> s"${1990 + id % 35}")
            val blob = encodeId3(version, frames, (id % 7).toInt)
            parseId3(blob) match {
              case Some(t) => Id3Row(id, t.version, t.frames.size,
                t.frames.getOrElse("TIT2", ""),
                t.frames.getOrElse("TPE1", ""),
                t.frames.getOrElse("TALB", ""),
                t.frames.get("TRCK").flatMap(_.toIntOption).getOrElse(-1),
                t.tagBytes.toLong)
              case None => Id3Row(id, -1, -1, "", "", "", -1, -1L)
            }
          }.toDF().orderBy($"doc_id")
      },
      // tag_bytes = 10 header + Σ(10 + 1 + len(text)) + padding;
      // the five payload lengths: 6+digits(id), 7+digits(id%50),
      // 6+digits(id%20), digits(id%12+1), 4
      Some("""
        WITH base AS (
          SELECT doc_id,
                 length(CAST(doc_id AS VARCHAR)) AS d_id,
                 length(CAST(doc_id % 50 AS VARCHAR)) AS d_artist,
                 length(CAST(doc_id % 20 AS VARCHAR)) AS d_album,
                 length(CAST(doc_id % 12 + 1 AS VARCHAR)) AS d_track
          FROM documents)
        SELECT doc_id,
               CAST(3 + doc_id % 2 AS INT) AS version,
               CAST(5 AS INT) AS n_frames,
               'Title ' || CAST(doc_id AS VARCHAR) AS title,
               'Artist ' || CAST(doc_id % 50 AS VARCHAR) AS artist,
               'Album ' || CAST(doc_id % 20 AS VARCHAR) AS album,
               CAST(doc_id % 12 + 1 AS INT) AS track,
               CAST(10
                    + (10 + 1 + 6 + d_id)
                    + (10 + 1 + 7 + d_artist)
                    + (10 + 1 + 6 + d_album)
                    + (10 + 1 + d_track)
                    + (10 + 1 + 4)
                    + doc_id % 7 AS BIGINT) AS tag_bytes
        FROM base
        ORDER BY doc_id""")),

    // ----- ID3v2.3 unsynchronisation (real-world MP3s set flag 0x80) --
    // The title embeds 'ÿ' (0xFF in ISO-8859-1), forcing a real escape
    // byte into the tag body: on-disk bytes grow by one per 0xFF while
    // frame sizes describe the RESTORED bytes — a parser that walks
    // the escaped bytes directly misreads every field after the first
    // ÿ. tag_bytes is the on-disk size, so the escape count is itself
    // oracle-checked.
    QueryDef(
      "q352_id3_unsync_walk",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val frames = Seq(
              "TIT2" -> s"Title ÿ$id",
              "TPE1" -> s"Artist ${id % 50}")
            val blob = encodeId3(3, frames, padding = 0, unsync = true)
            parseId3(blob) match {
              case Some(t) => (id, t.frames.getOrElse("TIT2", ""),
                t.frames.getOrElse("TPE1", ""), t.tagBytes.toLong)
              case None => (id, "", "", -1L)
            }
          }.toDF("doc_id", "title", "artist", "tag_bytes")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               'Title ' || chr(255) || CAST(doc_id AS VARCHAR) AS title,
               'Artist ' || CAST(doc_id % 50 AS VARCHAR) AS artist,
               CAST(10
                    + (10 + 1 + 7 + length(CAST(doc_id AS VARCHAR)))
                    + (10 + 1 + 7 + length(CAST(doc_id % 50 AS VARCHAR)))
                    + 1 AS BIGINT) AS tag_bytes
        FROM documents
        ORDER BY doc_id""")),

    // ----- ID3v2.4 per-frame unsync + UTF-16 text frames ---------------
    // The v2.4-only wire features on one tag: TIT2 is BOM'd UTF-16
    // (LE body) with PER-FRAME unsynchronisation — the BOM's 0xFF and
    // 'ÿ' (FF 00 in LE) both force escapes, and the frame size counts
    // the ESCAPED bytes (the opposite of v2.3's whole-tag rule);
    // TPE1 is UTF-16BE (no BOM, no escapes); TALB is latin-1 with
    // unsync + the data-length indicator, whose syncsafe restored
    // length the parser cross-checks. tag_bytes replays every escape
    // count arithmetically, so a phase slip in any of the three
    // lands in the oracle.
    QueryDef(
      "q364_id3v24_unsync_utf16",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val blob = encodeId3v24(Seq(
              ("TIT2", s"Tÿtle $id€", 1, true, false),
              ("TPE1", s"Artist ${id % 50}", 2, false, false),
              ("TALB", s"Albÿm ${id % 20}", 0, true, true)),
              padding = (id % 5).toInt)
            parseId3(blob) match {
              case Some(t) => (id, t.version,
                t.frames.getOrElse("TIT2", ""),
                t.frames.getOrElse("TPE1", ""),
                t.frames.getOrElse("TALB", ""), t.tagBytes.toLong)
              case None => (id, -1, "", "", "", -1L)
            }
          }.toDF("doc_id", "version", "title", "artist", "album",
            "tag_bytes")
          .orderBy($"doc_id")
      },
      // sizes: TIT2 = 1 + 2(BOM) + 2*chars + 2 escapes (BOM FF + 'ÿ');
      // TPE1 = 1 + 2*chars; TALB = 4(DLI) + 1 + chars + 1 escape ('ÿ')
      Some("""
        WITH base AS (
          SELECT doc_id,
                 length(CAST(doc_id AS VARCHAR)) AS d_id,
                 length(CAST(doc_id % 50 AS VARCHAR)) AS d_artist,
                 length(CAST(doc_id % 20 AS VARCHAR)) AS d_album
          FROM documents)
        SELECT doc_id,
               CAST(4 AS INT) AS version,
               'T' || chr(255) || 'tle ' || CAST(doc_id AS VARCHAR)
                 || chr(8364) AS title,
               'Artist ' || CAST(doc_id % 50 AS VARCHAR) AS artist,
               'Alb' || chr(255) || 'm ' || CAST(doc_id % 20 AS VARCHAR)
                 AS album,
               CAST(10
                    + (10 + 1 + 2 + 2 * (7 + d_id) + 2)
                    + (10 + 1 + 2 * (7 + d_artist))
                    + (10 + 4 + 1 + 6 + d_album + 1)
                    + doc_id % 5 AS BIGINT) AS tag_bytes
        FROM base
        ORDER BY doc_id"""))
  )
}
