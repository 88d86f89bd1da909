package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.functions._

import graft.codec.Bytes
import graft.engine.Tables

/** Avro Object Container File sniff — the remaining self-describing
  * table format a blob store holds beside parquet (q290). The header
  * is public spec (Apache Avro 1.x): magic `Obj\1`, a file-metadata
  * map (zigzag-varint block counts, length-prefixed keys/values)
  * carrying `avro.schema` and `avro.codec`, a 16-byte sync marker,
  * then data blocks of (record count, byte length, payload, sync).
  * The sniff reads metadata and WALKS the block chain verifying each
  * sync marker — record totals without decoding a single record.
  * Corrupt input → None. Per-blob map work, no shuffle.
  */
object Avro {

  final case class AvroShell(codec: String, schemaLen: Int,
      nBlocks: Long, nRecords: Long, payloadBytes: Long)

  /** Zigzag-varint at `off` (Avro's long encoding): (value, next). */
  private[operators] def zigzagVarint(b: Array[Byte], off: Int): Option[(Long, Int)] =
    Bytes.varint(b, off).map { case (u, next) =>
      ((u >>> 1) ^ -(u & 1L), next)
    }

  private def bytesAt(b: Array[Byte], off: Int): Option[(Array[Byte], Int)] =
    zigzagVarint(b, off).flatMap { case (len, next) =>
      if (len < 0 || len > b.length - next) None
      else Some((java.util.Arrays.copyOfRange(b, next, next + len.toInt),
        next + len.toInt))
    }

  /** Header + block-chain walk. None on bad magic, malformed map,
    * payload overrun, or a sync-marker mismatch mid-chain (a torn
    * write shows up as exactly that). */
  def sniff(b: Array[Byte]): Option[AvroShell] = {
    if (b == null || b.length < 4 + 1 + 16) return None
    if (!(b(0) == 'O' && b(1) == 'b' && b(2) == 'j' && b(3) == 1)) return None
    var i = 4
    var meta = Map.empty[String, Array[Byte]]
    var done = false
    while (!done) {
      val (count, next) = zigzagVarint(b, i).getOrElse(return None)
      i = next
      if (count == 0L) done = true
      else {
        // negative count: |count| entries preceded by a byte size (skip)
        val n = math.abs(count)
        if (count < 0) i = zigzagVarint(b, i).getOrElse(return None)._2
        var k = 0L
        while (k < n) {
          val (key, n1) = bytesAt(b, i).getOrElse(return None)
          val (value, n2) = bytesAt(b, n1).getOrElse(return None)
          meta += (new String(key, "UTF-8") -> value)
          i = n2; k += 1
        }
      }
    }
    if (i + 16 > b.length) return None
    val sync = java.util.Arrays.copyOfRange(b, i, i + 16)
    i += 16
    val codec = meta.get("avro.codec").map(new String(_, "UTF-8"))
      .getOrElse("null")
    val schemaLen = meta.get("avro.schema").map(_.length).getOrElse(0)
    var nBlocks = 0L; var nRecords = 0L; var payload = 0L
    while (i < b.length) {
      val (nRec, n1) = zigzagVarint(b, i).getOrElse(return None)
      val (nBytes, n2) = zigzagVarint(b, n1).getOrElse(return None)
      if (nRec < 0 || nBytes < 0 || nBytes > b.length - n2) return None
      i = n2 + nBytes.toInt
      if (i + 16 > b.length) return None
      if (!java.util.Arrays.equals(sync,
        java.util.Arrays.copyOfRange(b, i, i + 16))) return None
      i += 16
      nBlocks += 1; nRecords += nRec; payload += nBytes
    }
    Some(AvroShell(codec, schemaLen, nBlocks, nRecords, payload))
  }

  // --------------------------------------------------- fixture emitter

  private def putZigzag(out: ByteArrayOutputStream, v: Long): Unit =
    Bytes.putVarint(out, (v << 1) ^ (v >> 63))

  private def putBytes(out: ByteArrayOutputStream, b: Array[Byte]): Unit = {
    putZigzag(out, b.length.toLong); out.write(b, 0, b.length)
  }

  /** Byte-valid container: metadata map, sync, blocks of opaque
    * payloads (deterministic filler — the sniff never decodes them). */
  def encode(schema: String, codec: String, sync: Array[Byte],
      blocks: Seq[(Long, Int)]): Array[Byte] = {
    require(sync.length == 16)
    val out = new ByteArrayOutputStream()
    out.write('O'); out.write('b'); out.write('j'); out.write(1)
    putZigzag(out, 2L) // one metadata block, two entries
    putBytes(out, "avro.schema".getBytes("UTF-8"))
    putBytes(out, schema.getBytes("UTF-8"))
    putBytes(out, "avro.codec".getBytes("UTF-8"))
    putBytes(out, codec.getBytes("UTF-8"))
    putZigzag(out, 0L) // end of map
    out.write(sync, 0, 16)
    blocks.foreach { case (nRec, nBytes) =>
      putZigzag(out, nRec); putZigzag(out, nBytes.toLong)
      var k = 0
      while (k < nBytes) { out.write(0x5a); k += 1 }
      out.write(sync, 0, 16)
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(

    // container sniff: per-doc archives with 1 + id%3 blocks, record
    // counts and payload sizes from id arithmetic, codec alternating
    // null/deflate, a schema string whose length depends on the id
    // digits. The oracle replays codec, schema length, block/record/
    // payload totals — a zigzag slip or sync mis-hop kills a sum.
    QueryDef(
      "q304_avro_container_sniff",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id")
          .fanout.as[Long]
          .map { id =>
            val sync = Array.tabulate(16)(k => ((id + k) % 251).toByte)
            val blocks = (0L to (id % 3)).map(k =>
              (10 + id % 7 + k, (20 + id % 11 + k).toInt))
            val blob = Avro.encode(
              s"""{"type":"record","name":"r$id","fields":[]}""",
              if (id % 2 == 0) "null" else "deflate", sync, blocks)
            Avro.sniff(blob) match {
              case Some(a) => (id, a.codec, a.schemaLen.toLong, a.nBlocks,
                a.nRecords, a.payloadBytes)
              case None => (id, "corrupt", -1L, -1L, -1L, -1L)
            }
          }
          .toDF("doc_id", "codec", "schema_len", "n_blocks", "n_records",
            "payload_bytes")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'null' ELSE 'deflate' END
                 AS codec,
               CAST(40 + length(CAST(doc_id AS VARCHAR)) AS BIGINT)
                 AS schema_len,
               CAST(doc_id % 3 + 1 AS BIGINT) AS n_blocks,
               CAST((doc_id % 3 + 1) * (10 + doc_id % 7)
                    + (doc_id % 3) * (doc_id % 3 + 1) / 2 AS BIGINT)
                 AS n_records,
               CAST((doc_id % 3 + 1) * (20 + doc_id % 11)
                    + (doc_id % 3) * (doc_id % 3 + 1) / 2 AS BIGINT)
                 AS payload_bytes
        FROM documents
        ORDER BY doc_id""")))
}
