package graft.operators

import java.io.ByteArrayOutputStream
import java.util.concurrent.{Executors, TimeUnit}
import java.util.zip.{Deflater, Inflater}

import org.scalatest.funsuite.AnyFunSuite

/** A zlib stream with a preset dictionary (FDICT) makes the JDK
  * `Inflater` return 0 bytes forever with `needsDictionary` set; a loop
  * that only checks `needsInput` spins instead of failing. Each decode
  * runs on its own daemon thread under a deadline, so a regression
  * fails the test instead of hanging the suite. Every hostile fixture
  * has a positive twin, built the same way with a plain zlib stream,
  * that decodes — proof the fixture reaches the inflate. */
class PresetDictionarySpec extends AnyFunSuite {

  private def within[T](seconds: Int)(body: => T): T = {
    val pool = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "preset-dictionary-probe"); t.setDaemon(true); t
    }
    try pool.submit(() => body).get(seconds.toLong, TimeUnit.SECONDS)
    finally pool.shutdownNow()
  }

  private def zlib(raw: Array[Byte], dictionary: Boolean): Array[Byte] = {
    val d = new Deflater()
    if (dictionary) d.setDictionary("BT ET Tj /F1 Tf hello world".getBytes("US-ASCII"))
    d.setInput(raw); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def unzlib(z: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(z)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!inf.finished()) out.write(buf, 0, inf.inflate(buf))
    inf.end()
    out.toByteArray
  }

  private def latin1(b: Array[Byte]): String = new String(b, "ISO-8859-1")
  private def bytes(s: String): Array[Byte] = s.getBytes("ISO-8859-1")

  /** A one-page text PDF whose content stream (the last object before
    * the classic xref table) is FlateDecode'd; only the startxref
    * offset moves when the stream is swapped in. */
  private def textPdf(dictionary: Boolean): Array[Byte] = {
    val plain = latin1(Pdf.encodeTextPdf("1.4", Seq(Seq("hello world")), flate = false))
    val objAt = plain.indexOf("5 0 obj << /Length ")
    val dataAt = plain.indexOf("stream\n", objAt) + "stream\n".length
    val dataEnd = plain.indexOf("\nendstream endobj\n", dataAt)
    val xrefAt = plain.indexOf("xref\n", dataEnd)
    val z = zlib(bytes(plain.substring(dataAt, dataEnd)), dictionary)
    val head = plain.substring(0, objAt) +
      s"5 0 obj << /Length ${z.length} /Filter /FlateDecode >> stream\n" +
      latin1(z) + "\nendstream endobj\n"
    val tail = plain.substring(xrefAt)
    val oldStart = tail.substring(tail.indexOf("startxref\n"))
    bytes(head + tail.replace(oldStart, s"startxref\n${head.length}\n%%EOF\n"))
  }

  /** A cross-reference-stream PDF with its (last, FlateDecode'd) xref
    * stream re-deflated; startxref points at the object's start, so
    * only the /Length value changes. */
  private def xrefStreamPdf(dictionary: Boolean): Array[Byte] = {
    val plain = latin1(Pdf.encodeXrefPdf("1.5", Seq(Seq("hello world")),
      encrypted = false, predictor = 1))
    val objAt = plain.lastIndexOf("/Type /XRef")
    val lenAt = plain.indexOf("/Length ", objAt)
    val lenEnd = plain.indexOf(' ', lenAt + "/Length ".length)
    val dataAt = plain.indexOf("stream\n", lenEnd) + "stream\n".length
    val dataEnd = plain.indexOf("\nendstream endobj\n", dataAt)
    val z = zlib(unzlib(bytes(plain.substring(dataAt, dataEnd))), dictionary)
    bytes(plain.substring(0, lenAt) + s"/Length ${z.length}" +
      plain.substring(lenEnd, dataAt) + latin1(z) + plain.substring(dataEnd))
  }

  /** A WOFF 1.0 font whose zlib-compressed `name` table (the last
    * table, so nothing after it moves) is re-deflated. */
  private def woff(dictionary: Boolean): Array[Byte] = {
    val b = Font.encodeWoff("ttf", "Graft Sans", "Regular", 12, 1000)
    def u32(i: Int): Int = java.nio.ByteBuffer.wrap(b, i, 4).getInt
    val nTables = ((b(12) & 0xff) << 8) | (b(13) & 0xff)
    val dir = (0 until nTables).map(44 + 20 * _)
      .find(r => latin1(b.slice(r, r + 4)) == "name").get
    val (off, compLen) = (u32(dir + 4), u32(dir + 8))
    val z = zlib(unzlib(b.slice(off, off + compLen)), dictionary)
    val out = java.nio.ByteBuffer.wrap(b.take(off) ++ z ++
      new Array[Byte]((4 - z.length % 4) % 4))
    out.putInt(dir + 8, z.length).putInt(8, out.capacity)
    out.array
  }

  test("a FlateDecode content stream with a preset dictionary is rejected, not spun on") {
    assert(within(10)(Pdf.extractText(textPdf(dictionary = false)))
      .contains(Seq("hello world")))
    val hostile = textPdf(dictionary = true)
    assert(within(10)(Pdf.extractText(hostile)).isEmpty)
    within(10)(Pdf.decodePdf(hostile))
  }

  test("a FlateDecode xref stream with a preset dictionary is rejected, not spun on") {
    assert(within(10)(Pdf.decodePdf(xrefStreamPdf(dictionary = false))).isDefined)
    val hostile = xrefStreamPdf(dictionary = true)
    assert(within(10)(Pdf.decodePdf(hostile)).isEmpty)
    assert(within(10)(Pdf.extractText(hostile)).isEmpty)
  }

  test("a WOFF table deflated with a preset dictionary is rejected, not spun on") {
    assert(within(10)(Font.decodeFont(woff(dictionary = false)))
      .exists(_.family.contains("Graft Sans")))
    assert(within(10)(Font.decodeFont(woff(dictionary = true))).isEmpty)
  }
}
