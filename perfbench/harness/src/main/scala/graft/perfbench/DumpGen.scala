package graft.perfbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream

/** Seeded MediaWiki export-0.10 dump generator.
  *
  * Every page has a distinct page id, title and wikitext, so the sinks
  * and the `page_id` window see real cardinality (a byte-replicated
  * dump repeats the same ids and collapses `page_latest`). It varies
  * the axes of `XmlOps`' closed-form generator at its shares (see
  * [[Shape]]) — namespace, redirect, restrictions, revision count,
  * parentid chains, anonymous IP contributors, `<minor/>` presence,
  * comment omission, deleted text, `bytes` = the true UTF-8 length of
  * the body — plus a fixed share of wrong `<sha1>` values. All text is ASCII without `&<>"`, so no
  * escaping layer sits between the generator and the parser.
  *
  * Two shapes:
  *  - `articles`: 1-2 revisions per page, multi-KB wikitext, mostly
  *    ns 0 — byte-heavy;
  *  - `history`: many revisions per page, short texts, every namespace
  *    kind — row-heavy.
  *
  * Two layouts of the same uncompressed bytes: plain `dump.xml`, and
  * multistream `dump.xml.bz2` (stream 0 = header, then one bz2 stream
  * per [[PagesPerStream]] pages, then the footer stream) with its
  * `offset:page_id:title` index. Same (shape, seed, pages) gives the
  * same bytes. `manifest.json` carries the expected counts.
  *
  *   DumpGen (<articles|history> <seed> <pages> <outDir> <xml|multistream>)...
  */
object DumpGen {
  val PagesPerStream = 100

  /** The siteinfo namespace map — MediaWiki's default namespaces. */
  val Namespaces: Seq[(Int, String)] = Seq(
    -2 -> "Media", -1 -> "Special", 0 -> "", 1 -> "Talk", 2 -> "User",
    3 -> "User talk", 4 -> "Project", 5 -> "Project talk", 6 -> "File",
    7 -> "File talk", 8 -> "MediaWiki", 9 -> "MediaWiki talk",
    10 -> "Template", 11 -> "Template talk", 12 -> "Help",
    13 -> "Help talk", 14 -> "Category", 15 -> "Category talk")

  /** A dump shape. The per-page and per-revision shares are
    * `XmlOps`' closed-form generator's: a redirect on every 7th page,
    * restrictions on every 11th, an anonymous IP contributor on every
    * 5th revision, `<minor/>` and comment omission on every other,
    * deleted text on every 13th. Here each is drawn with that
    * probability, so the seed moves which pages carry it. Wrong `<sha1>`
    * values are an injected fault for the output check, drawn at the
    * deleted-text rate. The remaining axes — revisions per page, words
    * per text and the namespace mix — are what tells the two shapes
    * apart; they are workload parameters, not measured shares of a
    * real wiki (see perfbench/README.md). */
  final case class Shape(name: String, minRevs: Int, maxRevs: Int,
      minWords: Int, maxWords: Int, nsZeroShare: Double, pageNs: IndexedSeq[Int]) {
    val redirectShare: Double = 1.0 / 7
    val restrictedShare: Double = 1.0 / 11
    val anonShare: Double = 1.0 / 5
    val minorShare: Double = 1.0 / 2
    val noCommentShare: Double = 1.0 / 2
    val deletedShare: Double = 1.0 / 13
    val badSha1Share: Double = 1.0 / 13
  }

  /** Byte-heavy: 1-2 revisions of 350-1300 words (2-9 KB) per page;
    * two pages in three in ns 0, the rest in the namespaces a
    * pages-articles dump carries besides it (Project, File, Template,
    * Category). */
  val Articles: Shape = Shape("articles", 1, 2, 350, 1300, 2.0 / 3, IndexedSeq(4, 6, 10, 14))

  /** Row-heavy: 4-36 revisions of 12-60 words per page; every
    * non-negative namespace equally likely, as `XmlOps` cycles
    * through its namespaces. */
  val History: Shape = Shape("history", 4, 36, 12, 60, 1.0 / 16, (1 to 15).toIndexedSeq)

  def shape(name: String): Shape = name match {
    case "articles" => Articles
    case "history" => History
    case other => throw new IllegalArgumentException(s"unknown dump shape: $other")
  }

  /** Expected counts of one generated dump. */
  final case class Manifest(shape: String, seed: Long, pages: Int,
      revisions: Long, namespaces: Int, redirects: Int, restricted: Int,
      anonRevisions: Long, minorRevisions: Long, deletedTexts: Long,
      sha1Mismatches: Long, xmlBytes: Long, streams: Int)

  object Manifest {
    def read(dir: Path): Manifest = Json.read[Manifest](dir.resolve("manifest.json"))
  }

  private val Syllables = Array("ka", "lo", "mer", "tan", "si", "ve", "dor",
    "pu", "ri", "nax", "el", "thi", "gra", "bo", "un", "qua", "zet", "mi",
    "os", "fen", "lar", "cy", "dre", "hol")

  private def word(rnd: SplittableRandom): String = {
    val sb = new java.lang.StringBuilder
    var i = 1 + rnd.nextInt(3)
    while (i > 0) { sb.append(Syllables(rnd.nextInt(Syllables.length))); i -= 1 }
    sb.toString
  }

  private def capitalized(w: String): String =
    w.substring(0, 1).toUpperCase(java.util.Locale.ROOT) + w.substring(1)

  /** Wikitext of about `words` words: sections, links, templates,
    * external links and categories; no leading or trailing space. */
  private def wikitext(rnd: SplittableRandom, words: Int, pageNo: Int, rev: Int): String = {
    val sb = new java.lang.StringBuilder
    sb.append("'''").append(capitalized(word(rnd))).append("''' is page ")
      .append(pageNo).append(" revision ").append(rev).append('.')
    if (rnd.nextInt(4) == 0)
      sb.append(" {{Infobox ").append(word(rnd)).append("|name=")
        .append(word(rnd)).append("|size=").append(rnd.nextInt(1000)).append("}}")
    var i = 0
    while (i < words) {
      if (i > 0 && i % 120 == 0)
        sb.append("\n\n== ").append(capitalized(word(rnd))).append(" ==\n")
      else sb.append(' ')
      rnd.nextInt(24) match {
        case 0 => sb.append("[[").append(capitalized(word(rnd))).append(' ')
          .append(word(rnd)).append("]]")
        case 1 => sb.append("[[").append(capitalized(word(rnd))).append('|')
          .append(word(rnd)).append("]]")
        case 2 if rnd.nextInt(8) == 0 =>
          sb.append("[http://www.").append(word(rnd)).append(".example/")
            .append(word(rnd)).append(' ').append(word(rnd)).append(']')
        case 3 if rnd.nextInt(4) == 0 =>
          sb.append("{{cite|").append(word(rnd)).append('}').append('}')
        case _ => sb.append(word(rnd))
      }
      i += 1
    }
    sb.append("\n\n[[Category:").append(capitalized(word(rnd))).append("]]")
    sb.toString
  }

  private val Iso = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)

  private def sha1Base36(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1").digest(s.getBytes(UTF_8))
    val b = new java.math.BigInteger(1, d).toString(36)
    ("0" * (31 - b.length)) + b
  }

  private def header: String = {
    val sb = new java.lang.StringBuilder
    sb.append("<mediawiki xmlns=\"http://www.mediawiki.org/xml/export-0.10/\" ")
      .append("xml:lang=\"en\" version=\"0.10\">\n  <siteinfo>\n")
      .append("    <sitename>BenchWiki</sitename>\n    <dbname>benchwiki</dbname>\n")
      .append("    <base>https://bench.example/wiki/Main_Page</base>\n")
      .append("    <generator>MediaWiki 1.41.0</generator>\n")
      .append("    <case>first-letter</case>\n    <namespaces>\n")
    Namespaces.foreach { case (k, n) =>
      if (n.isEmpty) sb.append("      <namespace key=\"").append(k)
        .append("\" case=\"first-letter\" />\n")
      else sb.append("      <namespace key=\"").append(k)
        .append("\" case=\"first-letter\">").append(n).append("</namespace>\n")
    }
    sb.append("    </namespaces>\n  </siteinfo>\n").toString
  }

  private val Footer = "</mediawiki>\n"

  /** One generated page: its XML element (newline-terminated), id and title. */
  private final case class Page(xml: String, id: Long, title: String)

  /** Generate the pages in order, feeding each to `emit`, and return
    * the manifest (without layout fields). */
  private def pages(sh: Shape, seed: Long, n: Int)(emit: Page => Unit): Manifest = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + sh.name.hashCode)
    var pageId = 0L
    var revId = 1000L
    var revisions, anon, minor, deleted, bad = 0L
    var redirects, restricted = 0
    val nsName = Namespaces.toMap
    val t0 = java.time.Instant.parse("2010-01-01T00:00:00Z").getEpochSecond
    var p = 0
    while (p < n) {
      pageId += 1 + rnd.nextInt(3)
      val ns = if (rnd.nextDouble() < sh.nsZeroShare) 0
        else sh.pageNs(rnd.nextInt(sh.pageNs.length))
      val base = s"${capitalized(word(rnd))} ${word(rnd)} $pageId"
      val title = if (ns == 0) base else s"${nsName(ns)}:$base"
      val isRedirect = rnd.nextDouble() < sh.redirectShare
      val target = s"${capitalized(word(rnd))} ${word(rnd)}"
      val sb = new java.lang.StringBuilder
      sb.append("  <page>\n    <title>").append(title).append("</title>\n    <ns>")
        .append(ns).append("</ns>\n    <id>").append(pageId).append("</id>\n")
      if (isRedirect) { redirects += 1; sb.append("    <redirect title=\"").append(target).append("\" />\n") }
      if (rnd.nextDouble() < sh.restrictedShare) {
        restricted += 1
        sb.append("    <restrictions>edit=sysop:move=sysop</restrictions>\n")
      }
      val nRevs = sh.minRevs + rnd.nextInt(sh.maxRevs - sh.minRevs + 1)
      var ts = t0 + rnd.nextInt(1 << 28)
      var parent = -1L
      var r = 0
      while (r < nRevs) {
        revId += 1 + rnd.nextInt(5)
        ts += 60 + rnd.nextInt(86400 * 30)
        revisions += 1
        sb.append("    <revision>\n      <id>").append(revId).append("</id>\n")
        if (parent > 0) sb.append("      <parentid>").append(parent).append("</parentid>\n")
        sb.append("      <timestamp>").append(Iso.format(java.time.Instant.ofEpochSecond(ts)))
          .append("</timestamp>\n      <contributor>\n")
        if (rnd.nextDouble() < sh.anonShare) {
          anon += 1
          sb.append("        <ip>10.").append(rnd.nextInt(256)).append('.')
            .append(rnd.nextInt(256)).append('.').append(1 + rnd.nextInt(254)).append("</ip>\n")
        } else {
          val uid = 1 + rnd.nextInt(5000)
          sb.append("        <username>Editor").append(uid).append("</username>\n        <id>")
            .append(uid).append("</id>\n")
        }
        sb.append("      </contributor>\n")
        if (rnd.nextDouble() < sh.minorShare) { minor += 1; sb.append("      <minor />\n") }
        if (rnd.nextDouble() >= sh.noCommentShare)
          sb.append("      <comment>edit ").append(word(rnd)).append("</comment>\n")
        sb.append("      <model>wikitext</model>\n      <format>text/x-wiki</format>\n")
        val text =
          if (isRedirect) s"#REDIRECT [[$target]] page $pageId rev $r"
          else wikitext(rnd, sh.minWords + rnd.nextInt(sh.maxWords - sh.minWords + 1), p, r)
        val sha =
          if (rnd.nextDouble() < sh.deletedShare) {
            deleted += 1
            sb.append("      <text deleted=\"deleted\" />\n")
            sha1Base36(text)
          } else {
            sb.append("      <text bytes=\"").append(text.getBytes(UTF_8).length)
              .append("\" xml:space=\"preserve\">").append(text).append("</text>\n")
            if (rnd.nextDouble() < sh.badSha1Share) { bad += 1; sha1Base36(text + " ") }
            else sha1Base36(text)
          }
        sb.append("      <sha1>").append(sha).append("</sha1>\n    </revision>\n")
        parent = revId
        r += 1
      }
      sb.append("  </page>\n")
      emit(Page(sb.toString, pageId, title))
      p += 1
    }
    Manifest(sh.name, seed, n, revisions, Namespaces.size, redirects, restricted,
      anon, minor, deleted, bad, xmlBytes = 0L, streams = 0)
  }

  private def bz2(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream(s.length / 4)
    val out = new BZip2CompressorOutputStream(bos)
    out.write(s.getBytes(UTF_8))
    out.close()
    bos.toByteArray
  }

  /** Write the dump in the requested layouts; returns its manifest. */
  def generate(sh: Shape, seed: Long, n: Int, dir: Path,
      xml: Boolean, multistream: Boolean): Manifest = {
    require(xml || multistream, "no layout requested")
    Files.createDirectories(dir)
    val head = header.getBytes(UTF_8)
    var xmlBytes = head.length.toLong
    val plain: Option[OutputStream] =
      if (xml) Some(new BufferedOutputStream(
        new FileOutputStream(dir.resolve("dump.xml").toFile), 1 << 20))
      else None
    plain.foreach(_.write(head))
    val ms = if (multistream) Some(new MultistreamWriter(dir, header)) else None
    val m = try pages(sh, seed, n) { pg =>
      val b = pg.xml.getBytes(UTF_8)
      xmlBytes += b.length
      plain.foreach(_.write(b))
      ms.foreach(_.add(pg))
    } finally {
      plain.foreach { o => o.write(Footer.getBytes(UTF_8)); o.close() }
      ms.foreach(_.close())
    }
    val out = m.copy(xmlBytes = xmlBytes + Footer.length,
      streams = ms.map(_.streams).getOrElse(0))
    Json.write(dir.resolve("manifest.json"), out)
    out
  }

  /** Multistream layout: header stream, one stream per
    * [[PagesPerStream]] pages, footer stream, plus the index. */
  private final class MultistreamWriter(dir: Path, header: String) {
    private val out = new BufferedOutputStream(
      new FileOutputStream(dir.resolve("dump.xml.bz2").toFile), 1 << 20)
    private val index = Files.newBufferedWriter(dir.resolve("index.txt"), UTF_8)
    private var offset = 0L
    private val group = scala.collection.mutable.ArrayBuffer.empty[Page]
    var streams = 0

    private def stream(s: String): Unit = {
      val b = bz2(s)
      out.write(b)
      offset += b.length
    }
    stream(header)

    private def flushGroup(): Unit = if (group.nonEmpty) {
      group.foreach(p => index.write(s"$offset:${p.id}:${p.title}\n"))
      stream(group.map(_.xml).mkString)
      streams += 1
      group.clear()
    }

    def add(p: Page): Unit = {
      group += p
      if (group.size == PagesPerStream) flushGroup()
    }

    def close(): Unit = {
      flushGroup()
      stream(Footer)
      out.close()
      index.close()
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && args.length % 5 == 0 &&
      args.grouped(5).forall(g => Set("xml", "multistream")(g(4))),
      "usage: DumpGen (<articles|history> <seed> <pages> <outDir> <xml|multistream>)...")
    for (Array(sh, seed, n, out, layout) <- args.grouped(5))
      print(Json.write(generate(shape(sh), seed.toLong, n.toInt, Paths.get(out),
        xml = layout == "xml", multistream = layout == "multistream")))
  }
}
