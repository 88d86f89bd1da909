package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.functions._

import graft.codec.Bytes
import graft.engine.Tables

/** LZ4 block + frame DECODER — pure JVM, from the public specs
  * (lz4_Block_format.md / lz4_Frame_format.md). [[Compression]]
  * carried the frame-header sniff and an uncompressed-block emitter
  * since round 11; this completes the last codec-plane gap: the
  * BLOCK sequence format (token nibbles, 255-extension lengths,
  * little-endian match offsets, overlapping copies) and the full
  * frame walk (block checksums, the content checksum over the
  * decoded payload, declared-content-size verification, EndMark,
  * skippable frames, frame concatenation).
  *
  * Referee posture: lz4-java (the reference Java implementation, on
  * the Spark classpath — Spark's own lz4 codec) compresses real
  * frames with both the fast and high compressors that this decoder
  * must reproduce byte-exactly, and this file's literal-only block
  * emitter produces frames the reference accepts. Corrupt input →
  * None: offsets reaching before the output start, truncated
  * sequences, checksum mismatches, and content-size lies all reject.
  */
object Lz4Codec {

  val MaxOut: Int = 1 << 26

  /** Decode one LZ4 BLOCK (the raw sequence format). */
  def lz4DecompressBlock(b: Array[Byte], off: Int, len: Int,
      maxOut: Int = MaxOut): Option[Array[Byte]] = {
    if (b == null || off < 0 || len < 0 || off + len > b.length) return None
    var buf = new Array[Byte](math.max(64, math.min(len * 3, 1 << 16)))
    var n = 0
    def ensure(extra: Int): Boolean = {
      if (extra < 0 || extra > maxOut - n) return false
      if (n + extra > buf.length) {
        var cap = buf.length.toLong
        while (cap < n + extra) cap *= 2
        buf = java.util.Arrays.copyOf(buf, math.min(cap, maxOut.toLong).toInt)
      }
      true
    }
    var i = off
    val end = off + len
    try {
      while (i < end) {
        val token = b(i) & 0xff
        i += 1
        // literals
        var litLen = token >>> 4
        if (litLen == 15) {
          var c = 255
          while (c == 255) {
            if (i >= end) return None
            c = b(i) & 0xff
            i += 1
            litLen += c
            if (litLen < 0) return None
          }
        }
        if (i + litLen > end || !ensure(litLen)) return None
        System.arraycopy(b, i, buf, n, litLen)
        n += litLen
        i += litLen
        if (i >= end) {
          // last sequence: literals only, no match
          return Some(java.util.Arrays.copyOf(buf, n))
        }
        // match
        if (i + 2 > end) return None
        val offset = Bytes.u16le(b, i)
        i += 2
        if (offset == 0 || offset > n) return None
        var matchLen = (token & 0x0f) + 4
        if ((token & 0x0f) == 15) {
          var c = 255
          while (c == 255) {
            if (i >= end) return None
            c = b(i) & 0xff
            i += 1
            matchLen += c
            if (matchLen < 0) return None
          }
        }
        if (!ensure(matchLen)) return None
        var k = 0
        while (k < matchLen) { buf(n) = buf(n - offset); n += 1; k += 1 }
      }
      Some(java.util.Arrays.copyOf(buf, n))
    } catch { case _: ArrayIndexOutOfBoundsException => None }
  }

  /** Literal-only conformant block (single sequence, no match). */
  def lz4CompressBlockLiteral(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + 8)
    val lit = data.length
    if (lit < 15) out.write(lit << 4)
    else {
      out.write(0xf0)
      var rem = lit - 15
      while (rem >= 255) { out.write(255); rem -= 255 }
      out.write(rem)
    }
    out.write(data, 0, data.length)
    out.toByteArray
  }

  /** Full frame decode: one or more frames (content frames +
    * skippable frames), every checksum verified. */
  def lz4Decompress(b: Array[Byte], maxOut: Int = MaxOut): Option[Array[Byte]] = {
    if (b == null || b.length < 11) return None
    val out = new ByteArrayOutputStream(math.min(b.length * 3, 1 << 16))
    var i = 0
    var sawFrame = false
    try {
      while (i < b.length) {
        if (i + 4 > b.length) return None
        val magic = Bytes.u32le(b, i)
        if ((magic & 0xfffffff0L) == 0x184d2a50L) {
          // skippable frame
          if (i + 8 > b.length) return None
          val sz = Bytes.u32le(b, i + 4)
          if (sz > b.length - i - 8) return None
          i += 8 + sz.toInt
        } else if (magic == 0x184d2204L) {
          sawFrame = true
          val flg = b(i + 4) & 0xff
          if ((flg >>> 6) != 1 || (flg & 0x02) != 0) return None
          // dependent blocks (no BLOCK_INDEPENDENCE) let matches reach
          // into the PREVIOUS block's output — decoding them per-block
          // would be silently wrong, so reject (the reference Java
          // reader makes the same call)
          if ((flg & 0x20) == 0) return None
          val bd = b(i + 5) & 0xff
          if ((bd & 0x8f) != 0 || ((bd >>> 4) & 7) < 4) return None
          val hasContentSize = (flg & 0x08) != 0
          val hasContentChecksum = (flg & 0x04) != 0
          val hasBlockChecksums = (flg & 0x10) != 0
          val hasDictId = (flg & 0x01) != 0
          val descLen = 2 + (if (hasContentSize) 8 else 0) +
            (if (hasDictId) 4 else 0)
          if (i + 4 + descLen + 1 > b.length) return None
          val hc = b(i + 4 + descLen) & 0xff
          if (((Compression.xxh32(b, i + 4, descLen) >>> 8) & 0xff) != hc)
            return None
          val contentSize =
            if (hasContentSize)
              Some((0 until 8).map(k =>
                (b(i + 6 + k) & 0xffL) << (8 * k)).sum)
            else None
          i += 4 + descLen + 1
          val frameStart = out.size
          var endMark = false
          while (!endMark) {
            if (i + 4 > b.length) return None
            val word = Bytes.u32le(b, i)
            i += 4
            if (word == 0L) endMark = true
            else {
              val uncompressed = (word & 0x80000000L) != 0
              val blen = (word & 0x7fffffffL).toInt
              if (blen < 0 || i + blen > b.length) return None
              if (uncompressed) {
                out.write(b, i, blen)
                if (out.size > maxOut) return None
              } else {
                lz4DecompressBlock(b, i, blen,
                  maxOut - out.size) match {
                  case Some(d) => out.write(d, 0, d.length)
                  case None    => return None
                }
              }
              if (hasBlockChecksums) {
                if (i + blen + 4 > b.length) return None
                if ((Compression.xxh32(b, i, blen) & 0xffffffffL) !=
                  Bytes.u32le(b, i + blen)) return None
                i += blen + 4
              } else i += blen
            }
          }
          val produced = out.size - frameStart
          if (contentSize.exists(_ != produced.toLong)) return None
          if (hasContentChecksum) {
            if (i + 4 > b.length) return None
            val whole = out.toByteArray
            if ((Compression.xxh32(whole, frameStart, produced) &
              0xffffffffL) != Bytes.u32le(b, i)) return None
            i += 4
          }
        } else return None
      }
      if (!sawFrame) None else Some(out.toByteArray)
    } catch { case _: ArrayIndexOutOfBoundsException => None }
  }

  /** Frame emitter over literal-only COMPRESSED blocks (not the
    * uncompressed-block shape [[Compression.encodeLz4]] emits), with
    * optional block and content checksums — exercises the sequence
    * decoder at runtime. */
  def encodeLz4Literal(payload: Array[Byte], blockMaxCode: Int = 4,
      contentChecksum: Boolean = true,
      blockChecksums: Boolean = false): Array[Byte] = {
    require(blockMaxCode >= 4 && blockMaxCode <= 7)
    val out = new ByteArrayOutputStream(payload.length + 64)
    Bytes.le32(out, 0x184d2204L)
    val flg = 0x40 | 0x20 | 0x08 | (if (contentChecksum) 0x04 else 0) |
      (if (blockChecksums) 0x10 else 0)
    out.write(flg)
    out.write(blockMaxCode << 4)
    Bytes.le64(out, payload.length.toLong)
    val desc = out.toByteArray
    out.write((Compression.xxh32(desc, 4, desc.length - 4) >>> 8) & 0xff)
    val blockMax = (64 << ((blockMaxCode - 4) * 2)) * 1024
    var off = 0
    while (off < payload.length) {
      // the COMPRESSED block must fit blockMax: a literal-only block
      // of n bytes adds ~n/255 + 2 bytes of token/extension overhead
      val n = math.min(blockMax - blockMax / 255 - 16, payload.length - off)
      val block = lz4CompressBlockLiteral(
        java.util.Arrays.copyOfRange(payload, off, off + n))
      Bytes.le32(out, block.length.toLong) // compressed block (high bit clear)
      out.write(block, 0, block.length)
      if (blockChecksums)
        Bytes.le32(out, Compression.xxh32(block, 0, block.length) & 0xffffffffL)
      off += n
    }
    Bytes.le32(out, 0L)
    if (contentChecksum)
      Bytes.le32(out, Compression.xxh32(payload, 0, payload.length) & 0xffffffffL)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(

    // lz4 round-trip census: real reference frames (lz4-java fast
    // compressor — the zstd-jni fixture pattern) on even ids, own
    // literal frames with block checksums on odd ids; ok is
    // byte-exactness through the sequence decoder.
    QueryDef(
      "q445_lz4_roundtrip",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val data = text.getBytes("UTF-8")
            val blob =
              if (id % 2 == 0) {
                val bos = new ByteArrayOutputStream()
                // 64 KB blocks: the default 4 MB buffer pair would
                // dominate per-doc cost at corpus scale
                val w = new net.jpountz.lz4.LZ4FrameOutputStream(bos,
                  net.jpountz.lz4.LZ4FrameOutputStream.BLOCKSIZE.SIZE_64KB)
                w.write(data); w.close()
                bos.toByteArray
              } else encodeLz4Literal(data, contentChecksum = true,
                blockChecksums = true)
            val dec = Lz4Codec.lz4Decompress(blob)
            (id, if (id % 2 == 0) "reference" else "literal",
              dec.map(_.length.toLong).getOrElse(-1L),
              dec.exists(_.sameElements(data)))
          }
          .toDF("doc_id", "variant", "n_bytes", "ok")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'reference'
                 ELSE 'literal' END AS variant,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               TRUE AS ok
        FROM documents
        ORDER BY doc_id""")))
}
