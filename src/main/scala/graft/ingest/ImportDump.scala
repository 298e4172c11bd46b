package graft.ingest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The reference's CLI, Spark-native: import a MediaWiki pages dump
  * into relational sinks in one run (SURVEY.md §3.1 lifecycle →
  * one declarative pipeline).
  *
  *   sbt "runMain graft.ingest.ImportDump <dump.xml[.bz2]> <outDir> [jdbcUrl]"
  *
  * Steps: page scan (declared schema) → revision flatten + decodes →
  * namespace classification → sha1 verification → ns-partitioned
  * parquet (revisions + namespaces + a latest-revision page table),
  * optionally a batched JDBC load. Row-count metrics ride along via
  * observe() (A13) — no extra pass.
  *
  * Multistream dumps: set `SPARK_GRAFT_MULTISTREAM_INDEX=<index file>`
  * and the page scan switches to [[Multistream.readPages]] — one task
  * per bz2 stream instead of one task per (non-splittable) file; the
  * rest of the pipeline is byte-identical (MultistreamSpec's frame
  * equality). The namespace table comes from the dump's header either
  * way ([[MediaWikiXml.readNamespaces]] reads up to `</siteinfo>` only;
  * in a multistream dump that is stream 0, a single tiny decode).
  */
object ImportDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ImportDump <dump.xml[.bz2]> <outDir> [jdbcUrl]")
    val Array(dump, outDir) = args.take(2)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-import")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // XML is CPU-bound at ~10 MB/s/core: split uncompressed dumps
      // finer than the 128 MB default so every core parses.
      .config("spark.sql.files.maxPartitionBytes", 32L * 1024 * 1024)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val obs = org.apache.spark.sql.Observation("import")
    // multistream index present -> splittable parallel scan (A15)
    val pages = sys.env.get("SPARK_GRAFT_MULTISTREAM_INDEX") match {
      case Some(idx) => Multistream.readPages(spark, dump, idx)
      case None => MediaWikiXml.readPages(spark, dump)
    }
    val flat = MediaWikiXml.flattenRevisions(pages)
      .observe(obs, count(lit(1)).as("revisions"),
        approx_count_distinct(col("page_id")).as("approx_pages"))
    val ns = MediaWikiXml.readNamespaces(spark, dump)
    val classified = MediaWikiXml.verifySha1(MediaWikiXml.classify(flat, ns))

    Sinks.writeParquetPartitioned(classified, s"$outDir/revision")
    ns.write.mode("overwrite").parquet(s"$outDir/namespace")
    // Derive the page table from the revision SINK, not the dump: the
    // XML is parsed exactly once; this pass is a cheap columnar read.
    MediaWikiXml.latestRevisionPerPage(spark.read.parquet(s"$outDir/revision"))
      .write.mode("overwrite").parquet(s"$outDir/page_latest")

    args.lift(2).foreach { url =>
      // load the RDBMS from the parquet sink just written, not from
      // `classified` — re-using the plan would parse the XML and run
      // the sha1 UDF a second time ("parsed exactly once" above)
      Sinks.writeJdbc(spark.read.parquet(s"$outDir/revision")
        .select("page_id", "ns", "title", "rev_id",
          "parent_id", "ts", "is_minor", "is_anon", "text_bytes", "sha1"),
        url, "revision")
    }

    println(s"[import] approx_pages=${obs.get("approx_pages")} revisions=${obs.get("revisions")} → $outDir")
    spark.stop()
  }
}
