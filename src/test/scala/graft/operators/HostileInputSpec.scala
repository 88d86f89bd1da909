package graft.operators

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.util.concurrent.{Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** One table-driven property over every decoder whose byte, bit or
  * inflate plumbing lives in `graft.codec`: an encoder-made sample
  * decodes to Some, and every truncation of it plus a seeded set of
  * single-bit flips returns — None or Some, never an exception — within
  * a time bound. */
class HostileInputSpec extends SparkSpec {

  private case class Case(name: String, sample: () => Array[Byte],
      decode: Array[Byte] => Option[Any])

  private val text = ("the quick brown fox jumps over the lazy dog " * 6)
    .getBytes("US-ASCII")
  private val px = Array.tabulate(64)(i => (i * 37) % 256) // 8x8 gray
  private val memo = "memo".getBytes("US-ASCII")

  private def deflated(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](1024)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def sparkFile(format: String, codec: String): Array[Byte] = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"hostile-$format").toString
    (0L until 40L).map(i => (i * 7 % 13, if (i % 5 == 0) null else s"s${i % 3}"))
      .toDF("id", "s").coalesce(1).write.mode("overwrite")
      .option("compression", codec).format(format).save(dir)
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(s".$format"))
      .map(f => Files.readAllBytes(f.toPath)).head
  }

  private def arrowStream(): Array[Byte] = {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.{BigIntVector, VarCharVector, VectorSchemaRoot}
    import org.apache.arrow.vector.ipc.ArrowStreamWriter
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
    val alloc = new RootAllocator()
    val root = VectorSchemaRoot.create(new Schema(Seq(
      new Field("id", FieldType.nullable(new ArrowType.Int(64, true)), null),
      new Field("s", FieldType.nullable(new ArrowType.Utf8()), null)).asJava), alloc)
    val bos = new ByteArrayOutputStream()
    val w = new ArrowStreamWriter(root, null, java.nio.channels.Channels.newChannel(bos))
    w.start()
    val id = root.getVector("id").asInstanceOf[BigIntVector]
    val s = root.getVector("s").asInstanceOf[VarCharVector]
    (0 until 5).foreach { r =>
      id.setSafe(r, r * 1000L); s.setSafe(r, s"v$r".getBytes("UTF-8"))
    }
    id.setValueCount(5); s.setValueCount(5); root.setRowCount(5)
    w.writeBatch(); w.end(); w.close(); root.close(); alloc.close()
    bos.toByteArray
  }

  private def jpeg(): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 256).foreach(i => img.setRGB(i % 16, i / 16, i * 0x010203))
    Jpeg.encodeImageIO(img, 2, 2, false)
  }

  private val cases: Seq[Case] = Seq(
    Case("zip", () => Archive.encodeZip(Seq(("a.txt", text, true), ("b", memo, false))),
      b => Archive.zipEntries(b).filter(_.forall(Archive.unzipEntry(b, _).isDefined))),
    Case("zip methods", () => Archive.encodeZipMethods(Seq(("a", text, 12), ("b", text, 14))),
      b => Archive.zipEntries(b).filter(_.forall(Archive.unzipEntry(b, _).isDefined))),
    Case("zip64", () => Archive.encodeZip64(Seq(("a.txt", text, true))),
      b => Archive.zipEntries(b).filter(_.forall(Archive.unzipEntry(b, _).isDefined))),
    Case("arrow ipc", () => arrowStream(), b => ArrowIpc.readStream(b)),
    Case("wav header", () => AudioHeaders.encodeWav(2, 44100, 16, 100L, memo),
      AudioHeaders.decodeWav),
    Case("ogg opus", () => AudioHeaders.encodeOggOpus(2, 312, 48000, 3, 960L, memo),
      AudioHeaders.decodeOgg),
    Case("avi", () => Avi.encodeAvi(33333, 64, 48, Seq("vids", "auds"),
      Seq(("00dc", text), ("01wb", memo))), Avi.decodeAvi),
    Case("avro container", () => Avro.encode("{\"type\":\"string\"}", "deflate",
      Array.tabulate(16)(_.toByte), Seq((3L, 40), (2L, 9))), Avro.sniff),
    Case("avro records", () => AvroRecords.encodeRecordFile(AvroRecords.FixtureSchema,
      "deflate", Array.tabulate(16)(_.toByte), (0 until 6).map(i => Seq[AvroRecords.AV](
        AvroRecords.ALong(i), AvroRecords.AStr(s"n$i"), AvroRecords.ADbl(i * 0.5),
        AvroRecords.AArr(Vector(AvroRecords.AStr("t")))))), b => AvroRecords.records(b)),
    Case("avro records snappy", () => AvroRecords.encodeRecordFile(
      AvroRecords.FixtureSchema, "snappy", Array.tabulate(16)(_.toByte),
      Seq(Seq[AvroRecords.AV](AvroRecords.ALong(1), AvroRecords.AStr("n"),
        AvroRecords.ADbl(0.5), AvroRecords.AArr(Vector.empty)))),
      b => AvroRecords.records(b)),
    Case("gzip", () => Compression.encodeGzip(text, 7L, Some("a.txt"), Some("c")),
      Compression.gunzip),
    Case("lz4 header", () => Compression.encodeLz4(text), Compression.decodeLz4Header),
    Case("zstd header", () => Compression.encodeZstdHeader(20, 7L, Some(99L), true, memo),
      Compression.decodeZstdHeader),
    Case("parquet shell", () => Compression.encodeParquetShell(memo, 64, false),
      Compression.decodeParquetShell),
    Case("dicom", () => Dicom.encodeDicom("1.2.840.10008.5.1.4.1.1.2", "CT", "DOE^J",
      4, 4, 32), Dicom.decodeDicom),
    Case("sfnt", () => Font.encodeSfnt("ttf", "Fam", "Regular", 12, 1000), Font.decodeFont),
    Case("woff", () => Font.encodeWoff("otf", "Fam", "Bold", 12, 1000), Font.decodeFont),
    Case("woff2", () => Font.encodeWoff2Font("ttf", "Fam", "Regular", 12, 1000, true),
      Font.decodeFont),
    Case("git pack", () => GitPack.encodePack(Seq(GitPack.Full(3, text),
      GitPack.OfsDelta(0, GitPack.buildDelta(text, memo)))), GitPack.packObjects),
    Case("git idx", () => GitPack.encodeIdx(GitPack.encodePack(Seq(GitPack.Full(3, text),
      GitPack.Full(3, memo)))).get, GitPack.idxEntries),
    Case("git loose", () => GitPack.encodeLoose("blob", text), GitPack.looseObject),
    Case("icc", () => Icc.encodeJpegWithIcc(10, 10,
      Icc.encodeProfile("mntr", "RGB ", "XYZ ", 1, 3), 2), Icc.decodeJpegIcc),
    Case("ico", () => Ico.encodeIco(Seq(Pixels.encodeGrayBmp(8, 8, px),
      Pixels.encodeGrayPng(8, 8, px, memo))), Ico.decodeIco),
    Case("id3", () => Id3.encodeId3(4, Seq(("TIT2", "title"), ("TPE1", "artist")), 5),
      Id3.parseId3),
    Case("image headers png", () => ImageHeaders.encodePng(9, 7, 8, memo), ImageHeaders.decode),
    Case("image headers jpeg", () => ImageHeaders.encodeJpeg(9, 7, 8, memo),
      ImageHeaders.decode),
    Case("image headers webp", () => ImageHeaders.encodeWebpExif(9, 7, 6, "Cam", true,
      true, "<x/>"), ImageHeaders.decodeWebpMeta),
    Case("jpeg", () => jpeg(), Jpeg.decodeJpeg),
    Case("lz4 frame", () => Lz4Codec.encodeLz4Literal(text, blockChecksums = true),
      b => Lz4Codec.lz4Decompress(b)),
    Case("orc zlib", () => sparkFile("orc", "zlib"),
      b => Orc.parseTail(b).flatMap(m => Orc.readColumn(b, m, "id"))),
    Case("parquet gzip", () => sparkFile("parquet", "gzip"), b =>
      ParquetPages.footerBytes(b).flatMap(ParquetPages.chunkMetas).flatMap {
        case (_, chunks, reps) => chunks.headOption.flatMap(c =>
          ParquetPages.readColumn(b, c, optional = reps.getOrElse(c.path, 1) == 1))
      }),
    Case("pcm wav", () => Pcm.encodePcmWav(1, 8000, Array.tabulate(40)(i => i * 97 - 2000),
      memo), Pcm.decodePcmWav),
    Case("pdf xref stream", () => Pdf.encodeXrefPdf("1.5", Seq(Seq("hello"), Seq("world")),
      encrypted = false, predictor = 12), Pdf.decodePdf),
    Case("pdf text", () => Pdf.encodeTextPdf("1.4", Seq(Seq("hello")), flate = true),
      Pdf.extractText),
    Case("pdf flate filter", () => deflated(text),
      PdfFilters.decodeChain(_, Seq("/FlateDecode"))),
    Case("png gray", () => Pixels.encodeGrayPng(8, 8, px, memo), Pixels.decodePngLuma),
    Case("png meta", () => PngMeta.withChunks(Pixels.encodeGrayPng(8, 8, px, memo), Seq(
      PngMeta.textChunk("k", "v"), PngMeta.ztxtChunk("z", "zz"),
      PngMeta.itxtChunk("i", "ii", "en", compressed = true),
      PngMeta.exifChunk(3, "Cam", bigEndian = false))), PngMeta.decodePngMeta),
    Case("gif", () => Pixels.encodeGrayGif(8, 8, px, memo), Pixels.decodeGrayGif),
    Case("gif animated", () => Pixels.encodeAnimatedGif(8, 8, Seq((px, 5), (px.reverse, 7)),
      memo), Pixels.decodeAnimatedGif),
    Case("tiff packbits", () => Pixels.encodeGrayTiff(8, 8, px, true), Pixels.decodeGrayTiff),
    Case("bmp", () => Pixels.encodeGrayBmp(8, 8, px), Pixels.decodeGrayBmp),
    Case("bmp rle8", () => Pixels.encodeRle8Bmp(8, 8, px), Pixels.decodeGrayBmp),
    Case("postings", () => Postings.encodeSegment(Seq(3L, 9L, 200L, 70000L), 1L),
      Postings.decodeSegment(_, 1L)),
    Case("protobuf", () => Protobuf.encodeMessage(Seq((1, 0, Left(300L)),
      (2, 2, Right(memo)), (3, 0, Left(-1L)))), Protobuf.walkFields),
    Case("snappy framed", () => SnappyCodec.compressFramed(text),
      SnappyCodec.decompressFramed(_, 1 << 20)),
    Case("snappy raw", () => SnappyCodec.compressRawLiteral(text, selfOverlap = true),
      SnappyCodec.decompressRaw(_, 1 << 20)),
    Case("sqlite", () => Sqlite.encodeSqlite(512, 2, 1, 7L, 9L), Sqlite.decodeSqlite),
    Case("tiff header", () => TiffHeaders.encodeTiff(64, 48, 8, 3, bigEndian = true, memo),
      TiffHeaders.decodeTiff),
    Case("jpeg exif gps", () => TiffHeaders.encodeJpegExifGps(64, 48, 6, "CamX", false,
      'N', 40L, 26L, 46L, 1L, 'W', 79L, 58L, 56L, 1L, ImageHeaders.encodeJpeg(8, 8, 8, memo)),
      TiffHeaders.decodeJpegExifFull),
    Case("mp4", () => VideoHeaders.encodeMp4("isom", 600, 5000L, 64, 48, 2, memo),
      VideoHeaders.decodeMp4),
    Case("mp4 tags", () => VideoHeaders.encodeMp4Tagged("mp42", 1000, 9000L, 64, 36, 1,
      memo, "t", "a", "al", "2020", 3, 9), VideoHeaders.decodeMp4Tags),
    Case("avif items", () => VideoHeaders.encodeAvifItems("avif", 80, 60, 16, 9, 3,
      true, true), VideoHeaders.decodeAvifItems),
    Case("webp lossless", () => Vp8l.encodeWebpLossless(8, 8, px.map(v => 0xff000000 | v)),
      Vp8l.decodeWebpLossless),
    Case("xz", () => XzCodec.encodeXz(text), b => XzCodec.xzDecompress(b)),
    Case("xz literal", () => XzCodec.encodeXz(text, checkType = 1, literal = true),
      b => XzCodec.xzDecompress(b)),
    Case("zstd", () => ZstdCodec.zstdCompressStored(text), ZstdCodec.zstdDecompress),
    Case("bzip2", () => Bzip2.bzip2Compress(text, 1), b => Bzip2.bunzip2(b)),
    Case("flac", () => Flac.encodeFlac(Array.tabulate(600)(i => (i * 53 % 2000) - 1000),
      256, 8000), Flac.decodeFlac))

  /** Decode every truncation and `flips` seeded single-bit flips of the
    * sample; the failures found (empty = property holds). */
  private def sweep(c: Case, flips: Int, maxCallMs: Long): Seq[String] = {
    val sample = c.sample()
    val bad = Vector.newBuilder[String]
    def probe(what: String, b: Array[Byte]): Unit = {
      val t0 = System.nanoTime()
      try c.decode(b)
      catch { case e: Throwable => bad += s"${c.name}: $what threw $e" }
      val ms = (System.nanoTime() - t0) / 1000000
      if (ms > maxCallMs) bad += s"${c.name}: $what took $ms ms"
    }
    if (c.decode(sample).isEmpty) bad += s"${c.name}: the valid sample did not decode"
    (0 until sample.length).foreach(n => probe(s"truncation to $n bytes", sample.take(n)))
    val rnd = new scala.util.Random(sample.length)
    (0 until flips).foreach { _ =>
      val at = rnd.nextInt(sample.length * 8)
      val b = sample.clone()
      b(at / 8) = (b(at / 8) ^ (1 << (at % 8))).toByte
      probe(s"bit flip at $at", b)
    }
    bad.result()
  }

  test("every codec-backed decoder is total on truncations and bit flips") {
    val failures = cases.flatMap { c =>
      val pool = Executors.newSingleThreadExecutor { r =>
        val t = new Thread(r, s"hostile-input ${c.name}"); t.setDaemon(true); t
      }
      try pool.submit(() => sweep(c, flips = 256, maxCallMs = 2000))
        .get(120, TimeUnit.SECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          Seq(s"${c.name}: sweep did not finish within 120 s")
      } finally pool.shutdownNow()
    }
    assert(failures.isEmpty, failures.take(20).mkString("\n"))
  }
}
