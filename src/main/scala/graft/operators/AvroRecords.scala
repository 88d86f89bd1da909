package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.functions._

import graft.codec.{Bytes, Inflate}
import graft.engine.Tables
import Ipynb.{parseJson, JArr, JObj, JStr, JVal}

/** Avro RECORD decode — [[Avro]] stops at the container shell (block
  * counts, sync chain); this reads the data: the writer schema from
  * the header (parsed with the repo's own JSON reader), the binary
  * encoding per the Avro 1.x spec (zigzag-varint ints/longs,
  * length-prefixed strings/bytes, little-endian doubles, union branch
  * indexes, block-encoded arrays incl. the negative-count
  * size-prefixed form), and the block codecs: null, deflate (raw),
  * and snappy (raw block + 4-byte BIG-endian CRC32 of the
  * uncompressed data, verified — through this repo's own snappy
  * decoder).
  *
  * Schema scope is the flat-record subset data pipelines exchange:
  * records of long/int/string/double/boolean/bytes, `["null", T]`
  * unions, and arrays of primitives. Anything else → None.
  *
  * Referee: the Apache Avro reference implementation on the Spark
  * classpath (avro-1.12) — AvroRecordsSpec has it write real files
  * with every codec that this decoder must reproduce value-exactly,
  * and it must read this file's emitter output back.
  */
object AvroRecords {

  sealed trait AV
  final case class ALong(v: Long) extends AV
  final case class AStr(v: String) extends AV
  final case class ADbl(v: Double) extends AV
  final case class ABool(v: Boolean) extends AV
  final case class ABytes(v: Array[Byte]) extends AV
  final case class AArr(items: Vector[AV]) extends AV
  case object ANull extends AV

  sealed trait AType
  case object TLong extends AType
  case object TInt extends AType
  case object TStr extends AType
  case object TDbl extends AType
  case object TBool extends AType
  case object TBytes extends AType
  final case class TOpt(nullBranch: Int, inner: AType) extends AType
  final case class TArr(item: AType) extends AType

  private def primOf(name: String): Option[AType] = name match {
    case "long"    => Some(TLong)
    case "int"     => Some(TInt)
    case "string"  => Some(TStr)
    case "double"  => Some(TDbl)
    case "boolean" => Some(TBool)
    case "bytes"   => Some(TBytes)
    case _         => None
  }

  private def typeOf(j: JVal): Option[AType] = j match {
    case JStr(s) => primOf(s)
    case JArr(items) if items.length == 2 =>
      val names = items.collect { case JStr(s) => s }
      if (names.length != 2) None
      else {
        val ni = names.indexOf("null")
        if (ni < 0) None
        else primOf(names(1 - ni)).map(t => TOpt(ni, t))
      }
    case JObj(f) =>
      (f.get("type"), f.get("items")) match {
        case (Some(JStr("array")), Some(it)) => typeOf(it).map(TArr.apply)
        case _ => None
      }
    case _ => None
  }

  /** Parse the writer schema: a flat record's (fieldName, type)s. */
  def parseSchema(json: String): Option[Vector[(String, AType)]] =
    parseJson(json) match {
      case Some(JObj(f)) if f.get("type").contains(JStr("record")) =>
        f.get("fields") match {
          case Some(JArr(fields)) =>
            val out = Vector.newBuilder[(String, AType)]
            fields.foreach {
              case JObj(ff) =>
                (ff.get("name"), ff.get("type")) match {
                  case (Some(JStr(n)), Some(t)) =>
                    typeOf(t) match {
                      case Some(at) => out += ((n, at))
                      case None     => return None
                    }
                  case _ => return None
                }
              case _ => return None
            }
            Some(out.result())
          case _ => None
        }
      case _ => None
    }

  // ---- binary value decode ---------------------------------------------

  private def zig(b: Array[Byte], off: Int): (Long, Int) =
    Avro.zigzagVarint(b, off).getOrElse(throw new MatchError("varint"))

  private def decodeValue(b: Array[Byte], off0: Int, t: AType,
      depth: Int): (AV, Int) = {
    if (depth > 8) throw new MatchError("depth")
    t match {
      case TLong | TInt =>
        val (v, n) = zig(b, off0)
        (ALong(v), n)
      case TStr =>
        val (len, n) = zig(b, off0)
        if (len < 0 || len > b.length - n) throw new MatchError("strlen")
        (AStr(new String(b, n, len.toInt, "UTF-8")), n + len.toInt)
      case TBytes =>
        val (len, n) = zig(b, off0)
        if (len < 0 || len > b.length - n) throw new MatchError("byteslen")
        (ABytes(java.util.Arrays.copyOfRange(b, n, n + len.toInt)),
          n + len.toInt)
      case TDbl =>
        if (off0 + 8 > b.length) throw new MatchError("dbl")
        var bits = 0L
        var k = 0
        while (k < 8) { bits |= (b(off0 + k) & 0xffL) << (8 * k); k += 1 }
        (ADbl(java.lang.Double.longBitsToDouble(bits)), off0 + 8)
      case TBool =>
        if (off0 >= b.length) throw new MatchError("bool")
        b(off0) match {
          case 0 => (ABool(false), off0 + 1)
          case 1 => (ABool(true), off0 + 1)
          case _ => throw new MatchError("boolv")
        }
      case TOpt(nullBranch, inner) =>
        val (branch, n) = zig(b, off0)
        if (branch == nullBranch) (ANull, n)
        else if (branch == 1 - nullBranch) decodeValue(b, n, inner, depth + 1)
        else throw new MatchError("branch")
      case TArr(item) =>
        val out = Vector.newBuilder[AV]
        var i = off0
        var done = false
        while (!done) {
          val (count0, n) = zig(b, i)
          i = n
          var count = count0
          if (count == 0) done = true
          else {
            if (count < 0) { count = -count; i = zig(b, i)._2 } // size hint
            if (count > (1 << 22)) throw new MatchError("arrn")
            var k = 0L
            while (k < count) {
              val (v, ni) = decodeValue(b, i, item, depth + 1)
              out += v
              i = ni
              k += 1
            }
          }
        }
        (AArr(out.result()), i)
    }
  }

  private def decodeBlockPayload(codec: String,
      b: Array[Byte]): Option[Array[Byte]] = codec match {
    case "null"    => Some(b)
    case "deflate" => Inflate.raw(b, 0, b.length, 1 << 26)
    case "snappy" =>
      if (b.length < 4) return None
      val comp = java.util.Arrays.copyOfRange(b, 0, b.length - 4)
      SnappyCodec.decompressRaw(comp, 1 << 26).filter { raw =>
        Bytes.crc32(raw) == Bytes.u32be(b, b.length - 4)
      }
    case _ => None
  }

  /** Decode every record in a container file. */
  def records(file: Array[Byte], maxRecords: Int = 1 << 22)
      : Option[(Vector[(String, AType)], Vector[Vector[(String, AV)]])] =
    try {
      if (file == null || file.length < 21) return None
      if (!(file(0) == 'O' && file(1) == 'b' && file(2) == 'j' &&
        file(3) == 1)) return None
      // header map (same walk as Avro.sniff, but keep schema + codec)
      var i = 4
      var meta = Map.empty[String, Array[Byte]]
      var done = false
      while (!done) {
        val (count, next) = Avro.zigzagVarint(file, i).getOrElse(return None)
        i = next
        if (count == 0L) done = true
        else {
          val n = math.abs(count)
          if (count < 0)
            i = Avro.zigzagVarint(file, i).getOrElse(return None)._2
          var k = 0L
          while (k < n) {
            val (klen, n1) = Avro.zigzagVarint(file, i).getOrElse(return None)
            if (klen < 0 || klen > file.length - n1) return None
            val key = new String(file, n1, klen.toInt, "UTF-8")
            val (vlen, n2) = Avro.zigzagVarint(file,
              n1 + klen.toInt).getOrElse(return None)
            if (vlen < 0 || vlen > file.length - n2) return None
            meta += key -> java.util.Arrays.copyOfRange(file, n2,
              n2 + vlen.toInt)
            i = n2 + vlen.toInt
            k += 1
          }
        }
      }
      if (i + 16 > file.length) return None
      val sync = java.util.Arrays.copyOfRange(file, i, i + 16)
      i += 16
      val codec = meta.get("avro.codec").map(new String(_, "UTF-8"))
        .getOrElse("null")
      val schema = parseSchema(new String(
        meta.getOrElse("avro.schema", return None), "UTF-8"))
        .getOrElse(return None)
      val out = Vector.newBuilder[Vector[(String, AV)]]
      var total = 0L
      while (i < file.length) {
        val (nRec, n1) = Avro.zigzagVarint(file, i).getOrElse(return None)
        val (nBytes, n2) = Avro.zigzagVarint(file, n1).getOrElse(return None)
        if (nRec < 0 || nBytes < 0 || nBytes > file.length - n2) return None
        total += nRec
        if (total > maxRecords) return None
        val payload = decodeBlockPayload(codec,
          java.util.Arrays.copyOfRange(file, n2, n2 + nBytes.toInt))
          .getOrElse(return None)
        var p = 0
        var k = 0L
        while (k < nRec) {
          val rec = Vector.newBuilder[(String, AV)]
          schema.foreach { case (name, t) =>
            val (v, np) = decodeValue(payload, p, t, 0)
            rec += ((name, v))
            p = np
          }
          out += rec.result()
          k += 1
        }
        if (p != payload.length) return None // trailing bytes in block
        i = n2 + nBytes.toInt
        if (i + 16 > file.length) return None
        if (!java.util.Arrays.equals(sync,
          java.util.Arrays.copyOfRange(file, i, i + 16))) return None
        i += 16
      }
      Some((schema, out.result()))
    } catch {
      case _: MatchError | _: ArrayIndexOutOfBoundsException |
        _: NegativeArraySizeException => None
    }

  // --------------------------------------------------- fixture emitter

  private def putZig(out: ByteArrayOutputStream, v: Long): Unit =
    Bytes.putVarint(out, (v << 1) ^ (v >> 63))

  private def encodeValue(out: ByteArrayOutputStream, t: AType,
      v: AV): Unit = (t, v) match {
    case (TLong | TInt, ALong(x)) => putZig(out, x)
    case (TStr, AStr(s)) =>
      val b = s.getBytes("UTF-8")
      putZig(out, b.length.toLong)
      out.write(b, 0, b.length)
    case (TBytes, ABytes(b)) =>
      putZig(out, b.length.toLong)
      out.write(b, 0, b.length)
    case (TDbl, ADbl(d)) =>
      val bits = java.lang.Double.doubleToLongBits(d)
      var k = 0
      while (k < 8) { out.write(((bits >>> (8 * k)) & 0xff).toInt); k += 1 }
    case (TBool, ABool(x)) => out.write(if (x) 1 else 0)
    case (TOpt(ni, _), ANull) => putZig(out, ni.toLong)
    case (TOpt(ni, inner), x) =>
      putZig(out, (1 - ni).toLong)
      encodeValue(out, inner, x)
    case (TArr(item), AArr(items)) =>
      if (items.nonEmpty) {
        putZig(out, items.length.toLong)
        items.foreach(encodeValue(out, item, _))
      }
      putZig(out, 0L)
    case _ => throw new IllegalArgumentException("type/value mismatch")
  }

  private def deflateRaw(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6, true)
    d.setInput(data)
    d.finish()
    val out = new ByteArrayOutputStream(data.length / 2 + 16)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Emit a container file the reference implementation reads. */
  def encodeRecordFile(schemaJson: String, codec: String,
      sync: Array[Byte], recs: Seq[Seq[AV]]): Array[Byte] = {
    require(sync.length == 16)
    val schema = parseSchema(schemaJson).getOrElse(
      throw new IllegalArgumentException("schema"))
    val out = new ByteArrayOutputStream()
    out.write('O'); out.write('b'); out.write('j'); out.write(1)
    putZig(out, 2L)
    def putKv(k: String, v: Array[Byte]): Unit = {
      val kb = k.getBytes("UTF-8")
      putZig(out, kb.length.toLong); out.write(kb, 0, kb.length)
      putZig(out, v.length.toLong); out.write(v, 0, v.length)
    }
    putKv("avro.codec", codec.getBytes("UTF-8"))
    putKv("avro.schema", schemaJson.getBytes("UTF-8"))
    putZig(out, 0L)
    out.write(sync, 0, 16)
    if (recs.nonEmpty) {
      val body = new ByteArrayOutputStream()
      recs.foreach { r =>
        require(r.length == schema.length)
        schema.zip(r).foreach { case ((_, t), v) => encodeValue(body, t, v) }
      }
      val raw = body.toByteArray
      val payload = codec match {
        case "null"    => raw
        case "deflate" => deflateRaw(raw)
        case "snappy" =>
          val comp = SnappyCodec.compressRawLiteral(raw)
          val crc = new Array[Byte](4)
          Bytes.putBe32(crc, 0, Bytes.crc32(raw))
          comp ++ crc
        case _ => throw new IllegalArgumentException(codec)
      }
      putZig(out, recs.length.toLong)
      putZig(out, payload.length.toLong)
      out.write(payload, 0, payload.length)
      out.write(sync, 0, 16)
    }
    out.toByteArray
  }

  val FixtureSchema: String =
    """{"type":"record","name":"doc","fields":[
      |{"name":"rid","type":"long"},
      |{"name":"name","type":["null","string"]},
      |{"name":"score","type":"double"},
      |{"name":"tags","type":{"type":"array","items":"string"}}]}"""
      .stripMargin.replace("\n", "")

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(

    // Avro record census: per doc one container file (1 + id%3
    // records; codec cycles null/deflate/snappy), decoded map-side
    // through the schema-driven reader; the per-codec aggregate
    // shuffles scalar keys only. Scores aggregate as integer cents
    // (the float-sum rule).
    QueryDef(
      "q442_avro_record_census",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id")
          .fanout.as[Long]
          .flatMap { id =>
            val codec = Vector("null", "deflate", "snappy")((id % 3).toInt)
            val recs = (0L to id % 3).map { k =>
              Seq[AV](
                ALong(id * 10 + k),
                if ((id + k) % 5 == 0) ANull else AStr(s"n${(id + k) % 7}"),
                ADbl((id % 8) * 0.25),
                AArr(Vector.tabulate(((id + k) % 2).toInt)(j =>
                  AStr(s"t$j"))))
            }
            val sync = Array.tabulate(16)(j => ((id + j) % 251).toByte)
            val file = encodeRecordFile(FixtureSchema, codec, sync, recs)
            AvroRecords.records(file) match {
              case Some((_, rs)) =>
                rs.map { r =>
                  val m = r.toMap
                  val rid = m("rid") match { case ALong(v) => v; case _ => -1L }
                  val isNull = m("name") == ANull
                  val cents = m("score") match {
                    case ADbl(d) => math.round(d * 100)
                    case _       => -1L
                  }
                  val nTags = m("tags") match {
                    case AArr(it) => it.length.toLong
                    case _        => -1L
                  }
                  (id, codec, rid, if (isNull) 1L else 0L, cents, nTags)
                }
              case None => Seq.empty
            }
          }
          .toDF("doc_id", "codec", "rid", "is_null", "cents", "n_tags")
          .groupBy($"codec")
          .agg(count_distinct($"doc_id").as("n_files"),
            count(lit(1)).as("n_records"),
            sum($"rid").as("sum_rids"),
            sum($"is_null").as("n_null_names"),
            sum($"cents").as("score_cents"),
            sum($"n_tags").as("n_tags"))
          .orderBy($"codec")
      },
      Some("""
        WITH recs AS (
          SELECT doc_id,
                 CASE doc_id % 3 WHEN 0 THEN 'null' WHEN 1 THEN 'deflate'
                   ELSE 'snappy' END AS codec,
                 doc_id * 10 + k AS rid,
                 CASE WHEN (doc_id + k) % 5 = 0 THEN 1 ELSE 0 END AS is_null,
                 (doc_id % 8) * 25 AS cents,
                 (doc_id + k) % 2 AS n_tags
          FROM documents,
               UNNEST(generate_series(0, doc_id % 3)) AS g(k))
        SELECT codec,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_files,
               CAST(count(*) AS BIGINT) AS n_records,
               CAST(sum(rid) AS BIGINT) AS sum_rids,
               CAST(sum(is_null) AS BIGINT) AS n_null_names,
               CAST(sum(cents) AS BIGINT) AS score_cents,
               CAST(sum(n_tags) AS BIGINT) AS n_tags
        FROM recs
        GROUP BY codec
        ORDER BY codec""")))
}
