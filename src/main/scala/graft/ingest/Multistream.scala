package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Splittable ingest of `pages-articles-multistream.xml.bz2` dumps
  * (SURVEY.md §0.2, VERDICT_r11 #3) — the public Wikimedia layout that
  * exists precisely so importers can parallelize what a plain `.bz2`
  * forbids:
  *
  *  - the DUMP is a concatenation of independent bz2 streams: stream 0
  *    holds the `<mediawiki>` header + `<siteinfo>`, every following
  *    stream holds ~100 raw `<page>` elements (no root), and the final
  *    stream holds the closing `</mediawiki>`;
  *  - the INDEX (`…-multistream-index.txt[.bz2]`) is one
  *    `offset:page_id:title` line per page, `offset` = the byte offset
  *    of the bz2 stream containing that page.
  *
  * The reader decodes one bz2 stream per distinct index offset, in
  * parallel: N streams = N independent tasks, so a 20 GB dump ingests
  * at cluster width instead of one task. A bz2 stream ends itself (its
  * end-of-stream marker), so no byte range is planned: each task seeks
  * to its offset and decodes exactly one stream. Per-stream decode is
  * genuine per-partition imperative work (the documented mapPartitions
  * exception); everything after — schema application, flatten,
  * classify — is the same declarative chain as [[MediaWikiXml]], via
  * `from_xml` with the SAME declared [[MediaWikiXml.pageSchema]], so
  * the multistream path produces the identical flattened frame as the
  * single-stream `spark.read.format("xml")` path (MultistreamSpec
  * proves frame equality on a 3-stream fixture).
  *
  * 100 TB notes: the index is ~1% of the dump and is read once, as a
  * Dataset end to end — its distinct offsets (~10M for a full-history
  * enwiki index) are never collected, and the reader runs no job when
  * called. Each decode task opens the dump at its own offset (HDFS/S3
  * positioned read) and never touches another task's stream, so ingest
  * scales with stream count. Streams the index does not list (the
  * header, the `</mediawiki>` footer) are never decoded by the page
  * read; the header is read by [[readNamespaces]].
  */
object Multistream {

  /** Parse the multistream index into (stream_offset, page_id, title).
    * Reads via the text source, so a `.bz2` index decodes transparently
    * (it is small — one stream — and read once). Title may itself
    * contain ':', so only the first two fields split. */
  def readIndex(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.textFile(indexPath)
      .toDF("line")
      .filter(length(trim(col("line"))) > 0)
      // a corrupt line would regexp_extract to '' → cast to null →
      // NPE deep in a decode task; drop it here instead so a single
      // bad index line can't abort the whole ingest opaquely
      .filter(col("line").rlike("^\\d+:\\d+:"))
      .select(
        regexp_extract(col("line"), "^(\\d+):(\\d+):(.*)$", 1)
          .cast("long").as("stream_offset"),
        regexp_extract(col("line"), "^(\\d+):(\\d+):(.*)$", 2)
          .cast("long").as("page_id"),
        regexp_extract(col("line"), "^(\\d+):(\\d+):(.*)$", 3).as("title"))

  /** The byte ranges [start, end) of the streams the index lists: each
    * ends where the next listed stream starts, the last at end of file.
    * A driver-side helper for fixtures and stream counts — it collects
    * every distinct offset; the page read itself plans no ranges. */
  def streamRanges(spark: SparkSession, dumpPath: String,
      indexPath: String): Seq[(Long, Long)] = {
    import spark.implicits._
    val starts = readIndex(spark, indexPath).select(col("stream_offset"))
      .distinct().as[Long].collect().sorted.toSeq
    val path = new org.apache.hadoop.fs.Path(dumpPath)
    val fileLen = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(path).getLen
    starts.zip(starts.drop(1) :+ fileLen)
  }

  /** Bounded-memory page iterator over the ONE bz2 stream that starts
    * at `offset`: decode and scan in one pass, emitting each
    * `<page>…</page>` as found and compacting the scan buffer behind
    * it. Peak allocation is one page plus a 64 KiB read chunk — a
    * pathological million-page stream costs the same memory as a
    * 100-page one (VERDICT r12 #7). The decoder stops at the stream's
    * own end marker (`decompressConcatenated = false`), so the next
    * stream is never read. Takes the job's Hadoop conf explicitly so
    * executor-side opens see the driver's filesystem settings (S3/ABFS
    * credentials, fs.defaultFS) instead of an empty
    * `new Configuration()`. Closes the FS stream on exhaustion or
    * failure; a failure names the offset and the dump. */
  private def streamPages(conf: org.apache.hadoop.conf.Configuration,
      dumpPath: String, offset: Long): Iterator[String] = {
    def failed(e: Throwable) = new java.io.IOException(
      s"cannot decode the bz2 stream at offset $offset of $dumpPath: ${e.getMessage}", e)
    val path = new org.apache.hadoop.fs.Path(dumpPath)
    val in = path.getFileSystem(conf).open(path)
    val reader =
      try {
        in.seek(offset)
        new java.io.InputStreamReader(
          new org.apache.commons.compress.compressors.bzip2
            .BZip2CompressorInputStream(in, false),
          java.nio.charset.StandardCharsets.UTF_8)
      } catch { case e: Throwable => in.close(); throw failed(e) }
    var closed = false
    def closeNow(): Unit = if (!closed) { closed = true; reader.close() }
    def guarded[T](body: => T): T =
      try body catch { case e: Throwable => closeNow(); throw failed(e) }
    val it = splitPagesStream(reader)
    new Iterator[String] {
      def hasNext: Boolean = {
        val h = guarded(it.hasNext)
        if (!h) closeNow()
        h
      }
      def next(): String = guarded(it.next())
    }
  }

  /** Split a decoded stream into its top-level `<page>…</page>`
    * elements. Literal "</page>" cannot occur inside a well-formed
    * dump's text nodes (XML escapes `<` as `&lt;`), so a linear scan
    * is exact. */
  private[graft] def splitPages(xml: String): Iterator[String] =
    splitPagesStream(new java.io.StringReader(xml))

  /** Streaming page splitter: scans an incrementally-filled buffer for
    * `<page` / `</page>` pairs, emits each page, then DELETES the
    * consumed prefix so the buffer never holds more than one page (+
    * one read chunk, + a small tail that could hold a split `<page`
    * prefix between chunks). Literal "</page>" cannot occur inside a
    * well-formed dump's text nodes (XML escapes `<` as `&lt;`), so the
    * linear scan is exact — same contract as the String form. */
  private[graft] def splitPagesStream(reader: java.io.Reader): Iterator[String] =
    new Iterator[String] {
      private val buf = new java.lang.StringBuilder
      private val chunk = new Array[Char](64 * 1024)
      private var eof = false
      private var pending: String = null

      private def fill(): Boolean = {
        if (eof) return false
        val n = reader.read(chunk)
        if (n < 0) { eof = true; false }
        else { buf.append(chunk, 0, n); true }
      }

      private def advance(): Unit = {
        while (pending == null) {
          val open = buf.indexOf("<page")
          if (open < 0) {
            // nothing openable yet: keep only a tail big enough to
            // hold a "<page" split across the chunk boundary
            if (buf.length > 8) buf.delete(0, buf.length - 8)
            if (!fill()) return
          } else {
            val close = buf.indexOf("</page>", open)
            if (close >= 0) {
              pending = buf.substring(open, close + "</page>".length)
              buf.delete(0, close + "</page>".length)
            } else {
              if (open > 0) buf.delete(0, open) // compact the pre-page junk
              require(fill(), "unterminated <page> element in stream")
            }
          }
        }
      }

      def hasNext: Boolean = { advance(); pending != null }
      def next(): String = {
        advance()
        if (pending == null) throw new NoSuchElementException("no more pages")
        val out = pending
        pending = null
        out
      }
    }

  /** A2-multistream: the `<siteinfo>` namespace map. Stream 0 is the
    * header, so this is [[MediaWikiXml.readNamespaces]] on the dump
    * itself: its header-only read decodes stream 0 up to
    * `</siteinfo>` and never the page streams. The index is not read;
    * the parameter keeps the reader pair's signatures aligned. */
  def readNamespaces(spark: SparkSession, dumpPath: String,
      indexPath: String): DataFrame =
    MediaWikiXml.readNamespaces(spark, dumpPath)

  /** A1-multistream: page-grain scan of a multistream dump — the
    * parallel twin of [[MediaWikiXml.readPages]], one task per bz2
    * stream, identical output schema and rows. Lazy: no job runs until
    * the frame is consumed. */
  def readPages(spark: SparkSession, dumpPath: String,
      indexPath: String): DataFrame = {
    import spark.implicits._
    // Round-robin the distinct offsets across ~4 waves per core so
    // stream-size skew (some bz2 streams decode slower) back-fills.
    val slices = math.max(1, spark.sparkContext.defaultParallelism * 4)
    // ship the DRIVER's Hadoop conf to the decode tasks — an
    // executor-side `new Configuration()` would drop object-store
    // credentials/endpoints set on the session
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    readIndex(spark, indexPath).select(col("stream_offset"))
      .distinct().as[Long]
      .repartition(slices)
      .flatMap(offset => streamPages(confBc.value.value, dumpPath, offset))
      .toDF("xml")
      .select(from_xml(col("xml"), MediaWikiXml.pageSchema).as("p"))
      .select(col("p.*"))
  }
}
