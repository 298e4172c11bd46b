package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.MediaWikiXml

object NamespaceHeaderSpec {

  /** Spark's own XML source over every `<namespace>` element of a dump —
    * the parity reference for the header-only reader. */
  def xmlSourceNamespaces(spark: SparkSession, path: String): DataFrame =
    MediaWikiXml.namespaceCols(spark.read.format("xml")
      .option("rowTag", "namespace")
      .schema(MediaWikiXml.namespaceSchema)
      .load(path))

  def bz2(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new BZip2CompressorOutputStream(bos)
    out.write(bytes)
    out.close()
    bos.toByteArray
  }
}

/** [[MediaWikiXml.readNamespaces]] reads a dump's header only: its rows
  * equal Spark's XML source on every `<namespace>` of a dump, it never
  * reads past `</siteinfo>`, and a directory of chunks that each repeat
  * the siteinfo gives one row per key. */
class NamespaceHeaderSpec extends AnyFunSuite with LocalSparkSuite {
  import NamespaceHeaderSpec._

  private val minidump = "src/test/resources/minidump.xml"

  private def rows(df: DataFrame): Seq[Row] =
    df.orderBy(col("ns_key")).collect().toSeq

  private def write(dir: Path, name: String, text: String): String =
    Files.writeString(dir.resolve(name), text).toString

  test("header reader == XML-source reader on plain, bz2 and bare headers") {
    val dir = Files.createTempDirectory("nsparity")
    // XmlOpsSpec's q214 header: no <page>, key 0 self-closing
    val h = write(dir, "h.xml", "<mediawiki><siteinfo><namespaces>\n" +
      ((0 until 4).map(i =>
        if (i == 0) """<namespace key="0" case="first-letter" />"""
        else s"""<namespace key="$i" case="first-letter">NS $i</namespace>""")
        .mkString("\n")) + "\n</namespaces></siteinfo></mediawiki>")
    val escaped = write(dir, "escaped.xml",
      """<mediawiki><siteinfo><namespaces>
        |<namespace key="0" case="first-letter" />
        |<namespace key="4" case="case-sensitive">Q&amp;A &lt;wiki&gt;</namespace>
        |<namespace key="5" case="first-letter">Q&amp;A talk</namespace>
        |</namespaces></siteinfo>
        |<page><title>P</title><ns>0</ns><id>1</id></page></mediawiki>""".stripMargin)
    for (path <- Seq(minidump, minidump + ".bz2", h, escaped)) {
      val got = rows(MediaWikiXml.readNamespaces(spark, path))
      assert(got === rows(xmlSourceNamespaces(spark, path)), path)
      assert(got.nonEmpty && got.exists(r => r.getInt(0) == 0 && r.getString(1) == ""), path)
    }
    assert(rows(MediaWikiXml.readNamespaces(spark, escaped)).map(_.getString(1)) ===
      Seq("", "Q&A <wiki>", "Q&A talk"))
    assert(MediaWikiXml.readNamespaces(spark, minidump).schema ===
      xmlSourceNamespaces(spark, minidump).schema)
  }

  test("header-less dump gives an empty namespace table") {
    // IngestSpec's malformed dump: pages straight under <mediawiki>
    val dir = Files.createTempDirectory("nsheaderless")
    val d = write(dir, "d.xml",
      """<mediawiki><page><title>Good</title><ns>0</ns><id>1</id>
        |<revision><id>10</id><timestamp>2024-01-01T00:00:00Z</timestamp>
        |<contributor><username>u</username><id>5</id></contributor>
        |<text bytes="2">hi</text><sha1>x</sha1></revision></page>
        |<page><title>Bad</title><ns>NOT_A_NUMBER</ns><id>2</id>
        |<revision><id>11</id><timestamp>2024-01-01T00:00:00Z</timestamp>
        |<contributor><ip>1.2.3.4</ip></contributor>
        |<text bytes="2">yo</text><sha1>y</sha1></revision></page>
        |</mediawiki>""".stripMargin)
    assert(MediaWikiXml.readNamespaces(spark, d).count() === 0)
    assert(xmlSourceNamespaces(spark, d).count() === 0)
  }

  test("bytes after </siteinfo> are never read: non-XML tail, plain and bz2") {
    val dir = Files.createTempDirectory("nsbounded")
    val xml = Files.readString(Paths.get(minidump))
    val cut = xml.indexOf("</siteinfo>") + "</siteinfo>".length
    val header = xml.substring(0, cut).getBytes(UTF_8)
    // invalid UTF-8, an unclosed tag and a namespace the header lacks
    val tail = Array[Byte](0xff.toByte, 0xfe.toByte, 0, 1) ++
      "<<page <namespace key=\"99\">Bogus</namespace>".getBytes(UTF_8)
    val plain = dir.resolve("tail.xml")
    Files.write(plain, header ++ tail)
    // a bz2 stream holding the header, then bytes that are no bz2 at all
    val packed = dir.resolve("tail.xml.bz2")
    Files.write(packed, bz2(header) ++ tail)
    val want = rows(MediaWikiXml.readNamespaces(spark, minidump))
    assert(want.size === 5)
    assert(rows(MediaWikiXml.readNamespaces(spark, plain.toString)) === want)
    assert(rows(MediaWikiXml.readNamespaces(spark, packed.toString)) === want)
  }

  test("chunked dump directory: one row per key, classify does not duplicate") {
    val dir = Files.createTempDirectory("nschunks")
    Files.copy(Paths.get(minidump), dir.resolve("chunk-0.xml"))
    Files.copy(Paths.get(minidump), dir.resolve("chunk-1.xml"))
    val want = rows(MediaWikiXml.readNamespaces(spark, minidump))
    assert(rows(MediaWikiXml.readNamespaces(spark, dir.toString)) === want)
    assert(rows(MediaWikiXml.readNamespaces(spark, s"$dir/chunk-*.xml")) === want)
    val flat = MediaWikiXml.flattenRevisions(MediaWikiXml.readPages(spark, dir.toString))
    assert(MediaWikiXml.classify(flat, MediaWikiXml.readNamespaces(spark, dir.toString))
      .count() === 18)
  }

  test("chunks whose headers disagree fail the read") {
    val dir = Files.createTempDirectory("nsdisagree")
    val xml = Files.readString(Paths.get(minidump))
    Files.writeString(dir.resolve("chunk-0.xml"), xml)
    Files.writeString(dir.resolve("chunk-1.xml"), xml.replace(">User<", ">Benutzer<"))
    val e = intercept[IllegalArgumentException](
      MediaWikiXml.readNamespaces(spark, dir.toString))
    assert(e.getMessage.contains("chunk-0.xml") && e.getMessage.contains("chunk-1.xml"))
  }
}
