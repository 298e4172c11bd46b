package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{MediaWikiXml, Multistream, Sinks}

/** `ImportDump`'s sequence, run through the public functions of the
  * ingest layers: plain `.xml` through [[MediaWikiXml]], multistream
  * `.xml.bz2` through [[Multistream]]'s index path, then the same
  * sinks, plus [[Sinks.writeJdbc]] into the embedded Derby database at
  * `derby` when one is given (the sink overwrites its table). `label`
  * prefixes the operations its jobs are attributed to, and its spans. */
final case class ImportWorkload(label: String, dumpDir: Path, multistream: Boolean,
    derby: Option[Path]) {
  val jdbc: Boolean = derby.isDefined
  val manifest: DumpGen.Manifest = DumpGen.Manifest.read(dumpDir)
  private val dump =
    dumpDir.resolve(if (multistream) "dump.xml.bz2" else "dump.xml").toString
  private val index = dumpDir.resolve("index.txt").toString
  private val reader = if (multistream) "Multistream" else "MediaWikiXml"

  /** The column set `ImportDump` loads into the RDBMS. */
  private val jdbcCols = Seq("page_id", "ns", "title", "rev_id", "parent_id", "ts",
    "is_minor", "is_anon", "text_bytes", "sha1")

  def readPages(spark: SparkSession): DataFrame =
    if (multistream) Multistream.readPages(spark, dump, index)
    else MediaWikiXml.readPages(spark, dump)

  def readNamespaces(spark: SparkSession): DataFrame =
    if (multistream) Multistream.readNamespaces(spark, dump, index)
    else MediaWikiXml.readNamespaces(spark, dump)

  private def jdbcUrl(create: Boolean): String =
    s"jdbc:derby:${derby.get}" + (if (create) ";create=true" else "")

  /** One import: every sink, each timed as its own operation, and the
    * wall seconds from the first ingest call to the last sink written.
    * The multistream readers run jobs at call time (index and stream
    * work); those are attributed to `<label>:pipeline:read`. */
  def run(spark: SparkSession, out: Path, trace: Option[Trace] = None): (Seq[OpResult], Double) = {
    def sink(name: String)(body: => Unit): OpResult = {
      def op = Ops.timed(s"$label:pipeline:$name", name)(body)
      trace.fold(op)(_.span(s"$label:pipeline:$name")(op))
    }
    val t0 = System.nanoTime()
    val (ns, classified) = LayerListener.within(s"$label:pipeline:read") {
      val ns = readNamespaces(spark)
      (ns, MediaWikiXml.verifySha1(
        MediaWikiXml.classify(MediaWikiXml.flattenRevisions(readPages(spark)), ns)))
    }
    val rev = out.resolve("revision").toString
    val sinks = Seq(
      sink("revision")(Sinks.writeParquetPartitioned(classified, rev)),
      sink("namespace")(ns.write.mode("overwrite").parquet(out.resolve("namespace").toString)),
      // like ImportDump: page_latest and the RDBMS load read the sink,
      // so the dump is parsed once
      sink("page_latest") {
        MediaWikiXml.latestRevisionPerPage(spark.read.parquet(rev))
          .write.mode("overwrite").parquet(out.resolve("page_latest").toString)
      }) ++ (if (!jdbc) Nil else Seq(sink("jdbc") {
        Sinks.writeJdbc(spark.read.parquet(rev).select(jdbcCols.map(col): _*),
          jdbcUrl(create = true), "revision")
      }))
    (sinks, (System.nanoTime() - t0) / 1e9)
  }

  /** What each sink must hold, from the generator's manifest. */
  def expected: Map[String, Seq[(String, Long)]] = Map(
    "revision" -> Seq("rows" -> manifest.revisions,
      "sha1_ok_false" -> manifest.sha1Mismatches,
      "text_null" -> manifest.deletedTexts),
    "namespace" -> Seq("rows" -> manifest.namespaces.toLong),
    "page_latest" -> Seq("rows" -> manifest.pages.toLong),
    "jdbc" -> Seq("rows" -> manifest.revisions))

  /** Read every sink back (untimed) and fail each operation whose
    * output does not match [[expected]]. */
  def check(spark: SparkSession, out: Path, ops: Seq[OpResult]): Seq[OpResult] =
    ops.map { op =>
      if (!op.ok) op
      else try {
        val bad = Ops.mismatches(expected(op.name), observe(spark, out, op.name))
        if (bad.isEmpty) op else op.failWith(bad.mkString("; "))
      } catch { case e: Throwable => op.failWith(s"check failed: $e") }
    }

  private def observe(spark: SparkSession, out: Path, sink: String): Map[String, Long] =
    sink match {
      case "revision" =>
        val r = spark.read.parquet(out.resolve("revision").toString)
          .agg(count(lit(1)), count(when(col("sha1_ok") === false, 1)),
            count(when(col("text").isNull, 1)))
          .head()
        Map("rows" -> r.getLong(0), "sha1_ok_false" -> r.getLong(1),
          "text_null" -> r.getLong(2))
      case "jdbc" => Map("rows" -> jdbcRows)
      case other =>
        Map("rows" -> spark.read.parquet(out.resolve(other).toString).count())
    }

  def jdbcRows: Long = {
    val c = java.sql.DriverManager.getConnection(jdbcUrl(create = false))
    try {
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM revision")
      rs.next()
      rs.getLong(1)
    } finally c.close()
  }

  /** Bytes of the parquet files the import wrote. */
  def parquetBytes(out: Path): Long =
    Seq("revision", "namespace", "page_latest").map(out.resolve).filter(Files.isDirectory(_))
      .map { d =>
        val s = Files.walk(d)
        try s.filter(_.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum()
        finally s.close()
      }.sum

  /** Shut the Derby database down so its files can be removed. */
  def release(): Unit =
    if (derby.exists(Files.isDirectory(_)))
      try java.sql.DriverManager.getConnection(jdbcUrl(create = false) + ";shutdown=true")
      catch { case _: java.sql.SQLException => () } // shutdown reports by exception

  /** Per-step self times from cumulative prefixes of the pipeline, each
    * written to Spark's `noop` sink: a step's self time is its prefix's
    * time minus the previous prefix's. Lazy frames cost nothing to
    * build, so timing the calls themselves would read zero. The full
    * pipeline runs between the parse prefixes and the sink-side ones
    * (which read the revision sink it writes); its operations are
    * returned with the step times. */
  def tracedRun(spark: SparkSession, out: Path, trace: Trace)
      : (Seq[OpResult], Double, Map[String, Double]) = {
    def noop(step: String)(df: => DataFrame): Double = trace.span(s"$label:prefix:$step") {
      val r = Ops.timed(s"$label:prefix:$step", step) {
        df.write.format("noop").mode("overwrite").save()
      }
      if (!r.ok) throw new IllegalStateException(s"prefix $step failed: ${r.error}")
      r.seconds
    }
    val tNs = noop(s"$reader.readNamespaces")(readNamespaces(spark))
    val tPages = noop(s"$reader.readPages")(readPages(spark))
    val tFlat = noop("MediaWikiXml.flattenRevisions")(
      MediaWikiXml.flattenRevisions(readPages(spark)))
    val tClass = noop("MediaWikiXml.classify")(MediaWikiXml.classify(
      MediaWikiXml.flattenRevisions(readPages(spark)), readNamespaces(spark)))
    val tSha = noop("MediaWikiXml.verifySha1")(MediaWikiXml.verifySha1(MediaWikiXml.classify(
      MediaWikiXml.flattenRevisions(readPages(spark)), readNamespaces(spark))))
    val (ops, pipelineS) = trace.span(s"$label:pipeline")(run(spark, out, Some(trace)))
    def opS(n: String) = ops.find(_.name == n).map(_.seconds).getOrElse(Double.NaN)
    val rev = out.resolve("revision").toString
    val tSink = noop("read revision sink")(spark.read.parquet(rev))
    val tLatest = noop("MediaWikiXml.latestRevisionPerPage")(
      MediaWikiXml.latestRevisionPerPage(spark.read.parquet(rev)))
    val jdbcSteps =
      if (!jdbc) Map.empty[String, Double]
      else {
        val tIn = noop("jdbc input")(spark.read.parquet(rev).select(jdbcCols.map(col): _*))
        Map("Sinks.writeJdbc" -> (opS("jdbc") - tIn))
      }
    val steps = Map(
      s"$reader.readNamespaces" -> tNs,
      s"$reader.readPages" -> tPages,
      "MediaWikiXml.flattenRevisions" -> (tFlat - tPages),
      "MediaWikiXml.classify" -> (tClass - tFlat),
      "MediaWikiXml.verifySha1" -> (tSha - tClass),
      "Sinks.writeParquetPartitioned" -> (opS("revision") - tSha),
      "MediaWikiXml.latestRevisionPerPage" -> (tLatest - tSink)) ++ jdbcSteps
    (ops, pipelineS, steps)
  }
}
