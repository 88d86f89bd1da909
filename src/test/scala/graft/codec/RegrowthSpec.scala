package graft.codec

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The operator modules share one copy of the byte plumbing
  * ([[Bytes]], [[Inflate]], [[MsbBitReader]]/[[MsbBitWriter]]). This
  * scan fails when a local copy of any of it is written again under
  * `src/main/scala/graft/operators`. */
class RegrowthSpec extends AnyFunSuite {

  private val operators = Paths.get("src/main/scala/graft/operators")

  private val helperDef = ("""^\s*(?:(?:private(?:\[\w+\])?|final|@inline|override)\s+)*""" +
    """def\s+(u8|u16|u24|u32|u64|i16|i32|i64|u16le|u24le|u32le|u64le|u16be|u24be|""" +
    """u32be|u64be|i16le|i32le|i64le|i16be|i32be|i64be|le16|le24|le32|le64|be16|""" +
    """be24|be32|be64|w16|w32|w64|t16|t32|x16|tb32|putLe16|putLe32|putBe16|""" +
    """putBe32|readBe32|writeU32le|beField|varint|putVarint|crc32|inflate\w*)\b""").r

  private val handLoops = Seq(
    """new\s+(java\.util\.zip\.)?Inflater\b""".r -> "a hand-written Inflater loop",
    """new\s+(java\.util\.zip\.)?CRC32\b""".r -> "a JDK CRC32 outside Bytes.crc32")

  // the MSB-first bit readers/writers these formats share
  private val msbFormats = Set("Bzip2.scala", "Flac.scala", "Orc.scala")
  private val bitClass = """class\s+(BitReader|BitWriter|BitIn|BitOut)\b""".r

  private def offences(): Seq[String] =
    Files.list(operators).iterator().asScala.toSeq.sortBy(_.toString)
      .filter(_.toString.endsWith(".scala")).flatMap { p =>
        val name = p.getFileName.toString
        Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
          val at = s"$name:${i + 1}"
          helperDef.findFirstMatchIn(line).map(m => s"$at defines ${m.group(1)}").toSeq ++
            handLoops.collect { case (re, what) if re.findFirstIn(line).isDefined =>
              s"$at writes $what" } ++
            (if (msbFormats(name)) bitClass.findFirstMatchIn(line)
              .map(m => s"$at defines class ${m.group(1)}").toSeq else Nil)
        }
      }

  test("no operator module re-defines the shared byte, bit or inflate helpers") {
    assert(Files.isDirectory(operators), s"run from the repo root: $operators")
    val found = offences()
    assert(found.isEmpty, found.mkString("\n"))
  }
}
