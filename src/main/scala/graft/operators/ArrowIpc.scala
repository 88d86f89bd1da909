package graft.operators

import org.apache.spark.sql.functions._

import graft.codec.Bytes
import graft.engine.Tables

/** Arrow IPC stream reader — from the public Arrow columnar
  * specification, including the FLATBUFFERS layer parsed from scratch
  * (root offsets, signed vtable offsets, field slots, strings,
  * vectors, structs, unions): encapsulated messages (0xFFFFFFFF
  * continuation + metadata length + padded flatbuffer + body),
  * Schema messages (field names, Int{bitWidth,signed} and Utf8
  * types, nullability), RecordBatch messages (field nodes, buffer
  * descriptors, LSB-first validity bitmaps, int32 offset arrays),
  * multi-batch streams, and the end-of-stream marker.
  *
  * Arrow is how Spark hands columns to pandas UDFs and how feature
  * stores ship training batches — the one interchange format left
  * after parquet (q441), avro (q442), and ORC (q443).
  *
  * Scope: flat schemas of nullable Int64 + Utf8 columns;
  * uncompressed bodies plus the spec's BodyCompression (BUFFER
  * method, LZ4_FRAME and ZSTD codecs — each buffer an int64
  * uncompressed-length prefix + compressed bytes, -1 = stored)
  * routed through this repo's own [[Lz4Codec]]/[[ZstdCodec]]
  * from-spec decoders; other types/codecs → None.
  *
  * Referee: the Arrow reference implementation on the Spark
  * classpath (arrow-vector's ArrowStreamWriter) — it writes every
  * fixture and spec stream; this reader must reproduce the values
  * exactly.
  */
object ArrowIpc {

  // ---- flatbuffers primitives -----------------------------------------

  private final class Corrupt extends RuntimeException(null, null, false, false)
  private def fail(): Nothing = throw new Corrupt

  /** Field slot address inside a flatbuffer table, or -1 if absent. */
  private def slot(b: Array[Byte], table: Int, fieldId: Int): Int = {
    if (table < 0 || table + 4 > b.length) fail()
    val vtable = table - Bytes.i32le(b, table)
    if (vtable < 0 || vtable + 4 > b.length) fail()
    val vsize = Bytes.u16le(b, vtable)
    val at = 4 + 2 * fieldId
    if (at + 2 > vsize) return -1
    val off = Bytes.u16le(b, vtable + at)
    if (off == 0) -1 else table + off
  }

  private def tableAt(b: Array[Byte], pos: Int): Int = {
    if (pos + 4 > b.length) fail()
    pos + Bytes.i32le(b, pos)
  }

  private def stringAt(b: Array[Byte], pos: Int): String = {
    val s = pos + Bytes.i32le(b, pos)
    val len = Bytes.i32le(b, s)
    if (len < 0 || s + 4 + len > b.length) fail()
    new String(b, s + 4, len, "UTF-8")
  }

  private def vectorAt(b: Array[Byte], pos: Int): (Int, Int) = {
    val v = pos + Bytes.i32le(b, pos)
    val len = Bytes.i32le(b, v)
    if (len < 0) fail()
    (v + 4, len) // (first element, count)
  }

  // ---- schema / batch models ------------------------------------------

  sealed trait ColType
  case object CLong extends ColType
  case object CUtf8 extends ColType

  final case class BatchCol(values: Vector[Option[Either[String, Long]]])

  /** Decode a whole IPC stream: (field names+types, per-column row
    * values concatenated across batches). */
  def readStream(b: Array[Byte], maxRows: Int = 1 << 22)
      : Option[(Vector[(String, ColType)], Vector[Vector[Option[Either[String, Long]]]])] =
    try {
      if (b == null || b.length < 12) return None
      var i = 0
      var fields: Vector[(String, ColType)] = null
      var cols: Array[scala.collection.mutable.ArrayBuffer[Option[Either[String, Long]]]] = null
      var totalRows = 0L
      var done = false
      while (!done) {
        if (i + 4 > b.length) { done = true }
        else {
          var metaLen = Bytes.i32le(b, i)
          var metaOff = i + 4
          if (metaLen == -1) { // continuation marker
            if (i + 8 > b.length) fail()
            metaLen = Bytes.i32le(b, i + 4)
            metaOff = i + 8
          }
          if (metaLen == 0) { done = true; i = metaOff }
          else {
            if (metaLen < 0 || metaOff + metaLen > b.length) fail()
            val msg = tableAt(b, metaOff)
            // Message: version(0), header_type(1), header(2), bodyLength(3)
            val htSlot = slot(b, msg, 1)
            val headerType = if (htSlot < 0) 0 else b(htSlot) & 0xff
            val hSlot = slot(b, msg, 2)
            val blSlot = slot(b, msg, 3)
            val bodyLen = if (blSlot < 0) 0L else Bytes.u64le(b, blSlot)
            if (bodyLen < 0 || metaOff + metaLen + bodyLen > b.length) fail()
            val bodyOff = metaOff + metaLen
            headerType match {
              case 1 => // Schema
                if (hSlot < 0) fail()
                val schema = tableAt(b, hSlot)
                val fSlot = slot(b, schema, 1)
                if (fSlot < 0) fail()
                val (fv, fn) = vectorAt(b, fSlot)
                val out = Vector.newBuilder[(String, ColType)]
                var k = 0
                while (k < fn) {
                  val fld = tableAt(b, fv + 4 * k)
                  val nSlot = slot(b, fld, 0)
                  val name = if (nSlot < 0) "" else stringAt(b, nSlot)
                  val ttSlot = slot(b, fld, 2)
                  val tt = if (ttSlot < 0) 0 else b(ttSlot) & 0xff
                  val tSlot = slot(b, fld, 3)
                  val ct = tt match {
                    case 2 => // Int
                      if (tSlot < 0) fail()
                      val it = tableAt(b, tSlot)
                      val bwSlot = slot(b, it, 0)
                      val bw = if (bwSlot < 0) 0 else Bytes.i32le(b, bwSlot)
                      if (bw != 64) return None
                      CLong
                    case 5 => CUtf8
                    case _ => return None // out of scope
                  }
                  out += ((name, ct))
                  k += 1
                }
                fields = out.result()
                cols = Array.fill(fields.length)(
                  scala.collection.mutable.ArrayBuffer
                    .empty[Option[Either[String, Long]]])
              case 3 => // RecordBatch
                if (fields == null || hSlot < 0) fail()
                val rb = tableAt(b, hSlot)
                val lenSlot = slot(b, rb, 0)
                val nRows = if (lenSlot < 0) 0L else Bytes.u64le(b, lenSlot)
                if (nRows < 0 || nRows > maxRows) fail()
                totalRows += nRows
                if (totalRows > maxRows) fail()
                // BodyCompression (slot 3): codec 0=LZ4_FRAME 1=ZSTD,
                // method must be BUFFER(0); each non-empty buffer is
                // then an int64 uncompressed-length prefix + the
                // compressed bytes (-1 prefix = stored as-is), decoded
                // through THIS REPO'S own LZ4-frame/zstd decoders.
                val compCodec = slot(b, rb, 3) match {
                  case -1 => -1
                  case cs =>
                    val ct = tableAt(b, cs)
                    val cSlot = slot(b, ct, 0)
                    val codec = if (cSlot < 0) 0 else b(cSlot).toInt
                    val mSlot = slot(b, ct, 1)
                    val method = if (mSlot < 0) 0 else b(mSlot).toInt
                    if (method != 0 || (codec != 0 && codec != 1))
                      return None
                    codec
                }
                val (nv, nn) = vectorAt(b, slot(b, rb, 1) match {
                  case -1 => fail(); case s => s
                })
                if (nn < fields.length) fail()
                val (bv, bn) = vectorAt(b, slot(b, rb, 2) match {
                  case -1 => fail(); case s => s
                })
                // nodes: stride 16 structs (length, null_count)
                // buffers: stride 16 structs (offset, length)
                var bufIdx = 0
                def bufBytes(k: Int): Array[Byte] = {
                  if (k >= bn) fail()
                  val off = Bytes.u64le(b, bv + 16 * k)
                  val len = Bytes.u64le(b, bv + 16 * k + 8)
                  if (off < 0 || len < 0 || off + len > bodyLen) fail()
                  val start = bodyOff + off.toInt
                  if (compCodec < 0 || len == 0)
                    java.util.Arrays.copyOfRange(b, start,
                      start + len.toInt)
                  else {
                    if (len < 8) fail()
                    val uncomp = Bytes.u64le(b, start)
                    val payload = java.util.Arrays.copyOfRange(b,
                      start + 8, start + len.toInt)
                    if (uncomp == -1L) payload
                    else if (uncomp == 0L && payload.isEmpty)
                      Array.emptyByteArray // empty buffer: prefix only
                    else {
                      if (uncomp < 0 || uncomp > (1L << 28)) fail()
                      val out = (if (compCodec == 0)
                        Lz4Codec.lz4Decompress(payload,
                          maxOut = (1 << 28))
                      else ZstdCodec.zstdDecompress(payload))
                        .getOrElse(fail())
                      if (out.length != uncomp) fail()
                      out
                    }
                  }
                }
                var f = 0
                while (f < fields.length) {
                  val nodeLen = Bytes.u64le(b, nv + 16 * f).toInt
                  val vArr = bufBytes(bufIdx); bufIdx += 1
                  def validAt(r: Int): Boolean =
                    vArr.length == 0 ||
                      ((vArr(r >>> 3) >>> (r & 7)) & 1) == 1
                  fields(f)._2 match {
                    case CLong =>
                      val dArr = bufBytes(bufIdx); bufIdx += 1
                      if (dArr.length < nodeLen * 8L) fail()
                      var r = 0
                      while (r < nodeLen) {
                        cols(f) += (if (validAt(r))
                          Some(Right(Bytes.u64le(dArr, 8 * r)))
                        else None)
                        r += 1
                      }
                    case CUtf8 =>
                      val oArr = bufBytes(bufIdx); bufIdx += 1
                      val dArr = bufBytes(bufIdx); bufIdx += 1
                      // an EMPTY vector may carry a zero-length
                      // offsets buffer (no leading 0 entry)
                      if (nodeLen > 0 && oArr.length < (nodeLen + 1) * 4L)
                        fail()
                      var r = 0
                      while (r < nodeLen) {
                        if (validAt(r)) {
                          val s0 = Bytes.i32le(oArr, 4 * r)
                          val s1 = Bytes.i32le(oArr, 4 * (r + 1))
                          if (s0 < 0 || s1 < s0 || s1 > dArr.length) fail()
                          cols(f) += Some(Left(new String(dArr,
                            s0, s1 - s0, "UTF-8")))
                        } else cols(f) += None
                        r += 1
                      }
                  }
                  f += 1
                }
              case 2 => return None // dictionary batches: out of scope
              case _ => // ignore other message kinds
            }
            i = bodyOff + bodyLen.toInt
          }
        }
      }
      if (fields == null) None
      else Some((fields, cols.map(_.toVector).toVector))
    } catch {
      case _: Corrupt | _: ArrayIndexOutOfBoundsException |
        _: NegativeArraySizeException => None
    }

  /** Arrow FILE format (feather v2): "ARROW1\0\0" magic at both
    * ends, the stream sandwiched between, and a trailing footer
    * flatbuffer + its length before the closing magic. The embedded
    * stream parses with [[readStream]] directly — pandas/polars
    * `.feather`/`.arrow` files are exactly this. */
  def readFile(b: Array[Byte], maxRows: Int = 1 << 22)
      : Option[(Vector[(String, ColType)], Vector[Vector[Option[Either[String, Long]]]])] = {
    if (b == null || b.length < 24) return None
    val magic = "ARROW1".getBytes("US-ASCII")
    var k = 0
    while (k < 6) {
      if (b(k) != magic(k) || b(b.length - 6 + k) != magic(k)) return None
      k += 1
    }
    if (b(6) != 0 || b(7) != 0) return None
    val footerLen = Bytes.i32le(b, b.length - 10)
    if (footerLen <= 0 || footerLen > b.length - 18) return None
    // the stream body sits between the 8-byte magic pad and the footer
    val streamEnd = b.length - 10 - footerLen
    readStream(java.util.Arrays.copyOfRange(b, 8, streamEnd), maxRows)
  }

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  /** [[org.apache.arrow.compression.CommonsCompressionFactory]] with a
    * 64 KiB LZ4-frame block size. The stock arrow LZ4 codec runs each
    * buffer through commons-compress's FramedLZ4CompressorOutputStream
    * at the DEFAULT 4 MiB block size, which allocates (and zeroes)
    * megabytes of block buffer per tiny Arrow buffer — measured 5.3 ms
    * per q449 blob vs 0.12 ms for the ZSTD path, and WORSE under
    * parallelism (allocation-bandwidth bound, 32 cores x ~10 MB/blob).
    * Same commons-compress encoder, same legal LZ4-frame wire format
    * (the frame's BD byte declares K64 — the from-spec decoder reads
    * any declared block size), ~60x less allocation per buffer. ZSTD
    * and every other codec id delegate to the stock factory. */
  private[graft] object SmallBlockCompressionFactory
      extends org.apache.arrow.vector.compression.CompressionCodec.Factory {
    import org.apache.arrow.vector.compression.{CompressionCodec,
      CompressionUtil}
    private final class K64Lz4
        extends org.apache.arrow.compression.Lz4CompressionCodec {
      override protected def doCompress(
          alloc: org.apache.arrow.memory.BufferAllocator,
          uncompressed: org.apache.arrow.memory.ArrowBuf)
          : org.apache.arrow.memory.ArrowBuf = {
        import org.apache.commons.compress.compressors.lz4
          .FramedLZ4CompressorOutputStream
        val n = uncompressed.writerIndex().toInt
        val in = new Array[Byte](n)
        uncompressed.getBytes(0, in)
        val bos = new java.io.ByteArrayOutputStream()
        val out = new FramedLZ4CompressorOutputStream(bos,
          new FramedLZ4CompressorOutputStream.Parameters(
            FramedLZ4CompressorOutputStream.BlockSize.K64))
        out.write(in); out.close()
        val comp = bos.toByteArray
        // doCompress contract (mirrors the stock codec): compressed
        // bytes at offset 8; AbstractCompressionCodec fills the
        // uncompressed-length prefix
        val buf = alloc.buffer(8L + comp.length)
        buf.setBytes(8L, comp)
        buf.writerIndex(8L + comp.length)
        buf
      }
    }
    override def createCodec(
        t: CompressionUtil.CodecType): CompressionCodec = t match {
      case CompressionUtil.CodecType.LZ4_FRAME => new K64Lz4
      case other => org.apache.arrow.compression
        .CommonsCompressionFactory.INSTANCE.createCodec(other)
    }
    override def createCodec(t: CompressionUtil.CodecType,
        level: Int): CompressionCodec = t match {
      // LZ4-frame has no level knob in commons-compress; every other
      // codec keeps the caller's level through the stock factory
      case CompressionUtil.CodecType.LZ4_FRAME => new K64Lz4
      case other => org.apache.arrow.compression
        .CommonsCompressionFactory.INSTANCE.createCodec(other, level)
    }
  }

  val defs: Seq[QueryDef] = Seq(

    // Arrow IPC census: the REFERENCE implementation (arrow-vector,
    // the exact library Spark uses for pandas interchange) writes a
    // per-doc stream — nullable int64 + utf8, two batches on id%4==0
    // — and this reader decodes it back. The zstd-jni fixture pattern:
    // real writer output, not a hand emitter that could share a
    // misreading.
    QueryDef(
      "q444_arrow_ipc_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id")
          .fanout.as[Long]
          .mapPartitions { it =>
            import scala.jdk.CollectionConverters._
            import org.apache.arrow.memory.RootAllocator
            import org.apache.arrow.vector.{BigIntVector, VarCharVector,
              VectorSchemaRoot}
            import org.apache.arrow.vector.ipc.ArrowStreamWriter
            import org.apache.arrow.vector.types.pojo.{ArrowType, Field,
              FieldType, Schema}
            val alloc = new RootAllocator()
            val schema = new Schema(Seq(
              new Field("rid",
                FieldType.nullable(new ArrowType.Int(64, true)), null),
              new Field("name",
                FieldType.nullable(new ArrowType.Utf8()), null)).asJava)
            val res = it.map { id =>
              val root = VectorSchemaRoot.create(schema, alloc)
              val bos = new java.io.ByteArrayOutputStream()
              val w = new ArrowStreamWriter(root, null,
                java.nio.channels.Channels.newChannel(bos))
              w.start()
              val nBatches = if (id % 4 == 0) 2 else 1
              var batch = 0
              while (batch < nBatches) {
                val n = (1 + (id + batch) % 3).toInt
                val rid = root.getVector("rid").asInstanceOf[BigIntVector]
                val nm = root.getVector("name").asInstanceOf[VarCharVector]
                root.setRowCount(n)
                var r = 0
                while (r < n) {
                  rid.setSafe(r, id * 10 + batch * 5 + r)
                  if ((id + r) % 5 == 0) nm.setNull(r)
                  else nm.setSafe(r,
                    s"a${(id + r) % 7}".getBytes("UTF-8"))
                  r += 1
                }
                rid.setValueCount(n)
                nm.setValueCount(n)
                w.writeBatch()
                batch += 1
              }
              w.end(); w.close(); root.close()
              val stream = bos.toByteArray
              val decoded = ArrowIpc.readStream(stream)
              decoded match {
                case Some((fs, cols))
                    if fs.map(_._1) == Vector("rid", "name") =>
                  val rids = cols(0).flatten.collect { case Right(v) => v }
                  val names = cols(1)
                  (id, rids.length.toLong, rids.sum,
                    names.count(_.isEmpty).toLong,
                    names.flatten.collect {
                      case Left(s) => s.length.toLong
                    }.sum)
                case _ => (id, -1L, -1L, -1L, -1L)
              }
            }
            new Iterator[(Long, Long, Long, Long, Long)] {
              def hasNext: Boolean = res.hasNext || { alloc.close(); false }
              def next(): (Long, Long, Long, Long, Long) = res.next()
            }
          }
          .toDF("doc_id", "n_rows", "sum_rids", "n_nulls", "name_len")
          .orderBy($"doc_id")
      },
      Some("""
        WITH batches AS (
          SELECT doc_id, b FROM documents,
            UNNEST(generate_series(0,
              CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END)) AS g(b)),
        rows_ AS (
          SELECT doc_id, b, r,
                 doc_id * 10 + b * 5 + r AS rid,
                 CASE WHEN (doc_id + r) % 5 = 0 THEN 1 ELSE 0 END AS is_nul,
                 CASE WHEN (doc_id + r) % 5 = 0 THEN 0
                   ELSE 1 + length(CAST((doc_id + r) % 7 AS VARCHAR)) END
                   AS nlen
          FROM batches,
            UNNEST(generate_series(0,
              CAST((doc_id + b) % 3 AS INT))) AS g2(r))
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(rid) AS BIGINT) AS sum_rids,
               CAST(sum(is_nul) AS BIGINT) AS n_nulls,
               CAST(sum(nlen) AS BIGINT) AS name_len
        FROM rows_
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // the FILE framing (feather v2 — what pandas/polars write):
    // ArrowFileWriter per doc, decoded through the embedded-stream
    // walk with both magics and the footer length verified.
    QueryDef(
      "q446_arrow_file_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id")
          .fanout.as[Long]
          .mapPartitions { it =>
            import scala.jdk.CollectionConverters._
            import org.apache.arrow.memory.RootAllocator
            import org.apache.arrow.vector.{BigIntVector, VarCharVector,
              VectorSchemaRoot}
            import org.apache.arrow.vector.ipc.ArrowFileWriter
            import org.apache.arrow.vector.types.pojo.{ArrowType, Field,
              FieldType, Schema}
            val alloc = new RootAllocator()
            val schema = new Schema(Seq(
              new Field("rid",
                FieldType.nullable(new ArrowType.Int(64, true)), null),
              new Field("name",
                FieldType.nullable(new ArrowType.Utf8()), null)).asJava)
            val res = it.map { id =>
              val root = VectorSchemaRoot.create(schema, alloc)
              val bos = new java.io.ByteArrayOutputStream()
              val w = new ArrowFileWriter(root, null,
                java.nio.channels.Channels.newChannel(bos))
              w.start()
              val n = (1 + id % 4).toInt
              val rid = root.getVector("rid").asInstanceOf[BigIntVector]
              val nm = root.getVector("name").asInstanceOf[VarCharVector]
              root.setRowCount(n)
              var r = 0
              while (r < n) {
                rid.setSafe(r, id + r)
                nm.setSafe(r, s"f${(id + r) % 9}".getBytes("UTF-8"))
                r += 1
              }
              rid.setValueCount(n); nm.setValueCount(n)
              w.writeBatch(); w.end(); w.close(); root.close()
              val decoded = ArrowIpc.readFile(bos.toByteArray)
              decoded match {
                case Some((_, cols)) =>
                  val rids = cols(0).flatten.collect { case Right(v) => v }
                  (id, rids.length.toLong, rids.sum,
                    cols(1).flatten.collect { case Left(x) =>
                      x.length.toLong }.sum)
                case None => (id, -1L, -1L, -1L)
              }
            }
            new Iterator[(Long, Long, Long, Long)] {
              def hasNext: Boolean = res.hasNext || { alloc.close(); false }
              def next(): (Long, Long, Long, Long) = res.next()
            }
          }
          .toDF("doc_id", "n_rows", "sum_rids", "name_len")
          .orderBy($"doc_id")
      },
      Some("""
        WITH rows_ AS (
          SELECT doc_id, doc_id + r AS rid,
                 2 AS nlen
          FROM documents,
            UNNEST(generate_series(0, CAST(doc_id % 4 AS INT))) AS g(r))
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(rid) AS BIGINT) AS sum_rids,
               CAST(sum(nlen) AS BIGINT) AS name_len
        FROM rows_
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // compressed bodies: the reference writer emits BodyCompression
    // batches (LZ4_FRAME on even docs, ZSTD on odd — arrow's two
    // spec codecs), and the decode routes every buffer through this
    // repo's own from-spec LZ4-frame/zstd decoders. That is
    // arrow-java + commons-compress refereeing our codec plane under
    // a production interchange format.
    QueryDef(
      "q449_arrow_compressed_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id")
          .fanout.as[Long]
          .mapPartitions { it =>
            import scala.jdk.CollectionConverters._
            import org.apache.arrow.memory.RootAllocator
            import org.apache.arrow.vector.{BigIntVector, VarCharVector,
              VectorSchemaRoot}
            import org.apache.arrow.vector.ipc.ArrowStreamWriter
            import org.apache.arrow.vector.ipc.message.IpcOption
            import org.apache.arrow.vector.compression.CompressionUtil
            import org.apache.arrow.compression.CommonsCompressionFactory
            import org.apache.arrow.vector.types.pojo.{ArrowType, Field,
              FieldType, Schema}
            val alloc = new RootAllocator()
            val schema = new Schema(Seq(
              new Field("rid",
                FieldType.nullable(new ArrowType.Int(64, true)), null),
              new Field("name",
                FieldType.nullable(new ArrowType.Utf8()), null)).asJava)
            val res = it.map { id =>
              val root = VectorSchemaRoot.create(schema, alloc)
              val bos = new java.io.ByteArrayOutputStream()
              val ct =
                if (id % 2 == 0) CompressionUtil.CodecType.LZ4_FRAME
                else CompressionUtil.CodecType.ZSTD
              // SmallBlockCompressionFactory: stock commons-compress
              // LZ4 but with K64 frame blocks — see its scaladoc
              val w = new ArrowStreamWriter(root, null,
                java.nio.channels.Channels.newChannel(bos),
                IpcOption.DEFAULT, SmallBlockCompressionFactory, ct)
              w.start()
              val n = (1 + id % 4).toInt
              val rid = root.getVector("rid").asInstanceOf[BigIntVector]
              val nm = root.getVector("name").asInstanceOf[VarCharVector]
              root.setRowCount(n)
              var r = 0
              while (r < n) {
                rid.setSafe(r, id * 7 + r)
                if ((id + r) % 6 == 0) nm.setNull(r)
                else nm.setSafe(r, s"c${(id + r) % 9}".getBytes("UTF-8"))
                r += 1
              }
              rid.setValueCount(n); nm.setValueCount(n)
              w.writeBatch(); w.end(); w.close(); root.close()
              val decoded = ArrowIpc.readStream(bos.toByteArray)
              decoded match {
                case Some((fs, cols))
                    if fs.map(_._1) == Vector("rid", "name") =>
                  val rids = cols(0).flatten.collect { case Right(v) => v }
                  (id, rids.length.toLong, rids.sum,
                    cols(1).count(_.isEmpty).toLong,
                    cols(1).flatten.collect {
                      case Left(x) => x.length.toLong
                    }.sum)
                case _ => (id, -1L, -1L, -1L, -1L)
              }
            }
            new Iterator[(Long, Long, Long, Long, Long)] {
              def hasNext: Boolean = res.hasNext || { alloc.close(); false }
              def next(): (Long, Long, Long, Long, Long) = res.next()
            }
          }
          .toDF("doc_id", "n_rows", "sum_rids", "n_nulls", "name_len")
          .orderBy($"doc_id")
      },
      Some("""
        WITH rows_ AS (
          SELECT doc_id, r,
                 doc_id * 7 + r AS rid,
                 CASE WHEN (doc_id + r) % 6 = 0 THEN 1 ELSE 0 END AS is_nul,
                 CASE WHEN (doc_id + r) % 6 = 0 THEN 0 ELSE 2 END AS nlen
          FROM documents,
            UNNEST(generate_series(0, CAST(doc_id % 4 AS INT))) AS g(r))
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(rid) AS BIGINT) AS sum_rids,
               CAST(sum(is_nul) AS BIGINT) AS n_nulls,
               CAST(sum(nlen) AS BIGINT) AS name_len
        FROM rows_
        GROUP BY doc_id
        ORDER BY doc_id""")))
}
