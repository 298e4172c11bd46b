package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CheckpointMemo, QueryDef, SparkEntry, Tables}

/** The query surface, grouped by the `graft.ops` module that defines
  * each query. */
object QueryWorkload {
  val modules: Seq[(String, Seq[QueryDef])] = {
    import graft.ops._
    Seq("Relational" -> Relational.defs, "TextOps" -> TextOps.defs,
      "VectorOps" -> VectorOps.defs, "WindowedOps" -> WindowedOps.defs,
      "UdfOps" -> UdfOps.defs, "MultimodalOps" -> MultimodalOps.defs,
      "CurationOps" -> CurationOps.defs, "StatsOps" -> StatsOps.defs,
      "WikitextOps" -> WikitextOps.defs, "SinkOps" -> SinkOps.defs,
      "XmlOps" -> XmlOps.defs, "StreamGradedOps" -> StreamGradedOps.defs)
  }

  val moduleOf: Map[String, String] =
    modules.flatMap { case (m, defs) => defs.map(_.name -> m) }.toMap

  /** The timed set. A full pass of all 214 queries takes minutes even
    * at sf0.01, longer than one benchmark run may take, so a pass runs
    * one query per module — the one at the lower median of the module's
    * per-query seconds in `perfbench/query_times_sf0.01.json` — plus q79
    * and q84, which share the `dedup_labels` memo, so one pays its build
    * and the other reuses it. */
  val sample: Seq[String] = Seq(
    "q54_multimodal_features", "q61_sliding_quarter", "q69_contamination",
    "q70_sha1_base36", "q79_curate_corpus", "q84_curate_and_pack",
    "q85_source_mixing", "q87_ann_ivf_cells", "q155_indomain_ppl",
    "q180_wikitext_infobox", "q190_jdbc_roundtrip", "q193_zorder_layout",
    "q213_streaming_attribution", "q214_namespace_classify")

  /** Seed 0 keeps name order; any other seed permutes it. */
  def order(names: Seq[String], seed: Long): Seq[String] = {
    val sorted = names.sorted.toArray
    if (seed != 0) {
      val rnd = new java.util.SplittableRandom(seed)
      for (i <- sorted.indices.reverse) {
        val j = rnd.nextInt(i + 1)
        val t = sorted(i); sorted(i) = sorted(j); sorted(j) = t
      }
    }
    sorted.toSeq
  }

  /** Fill the session's base table cache for `dataDir` as Bench does;
    * returns the fill's seconds. */
  def fillCache(spark: SparkSession, dataDir: String): Double = {
    Tables.cacheForSession = true
    val t0 = System.nanoTime()
    Tables.baseNames.foreach(t => Tables.table(spark, dataDir, t).count())
    Tables.events(spark, dataDir).count()
    (System.nanoTime() - t0) / 1e9
  }

  /** Release the session's cached tables and memoized frames. */
  def teardown(): Unit = { CheckpointMemo.clear(); Tables.clearCache() }

  /** Memo build seconds and build count one query paid. */
  final case class MemoDelta(seconds: Double, builds: Int, byTag: Map[String, Double])

  /** Run one query as `fn(spark, dir).count()`, its jobs attributed
    * to it; it fails on an exception or when the count is not the
    * expected one. */
  def runQuery(spark: SparkSession, name: String, fn: (SparkSession, String) => DataFrame,
      dir: String, expected: Option[Long]): (OpResult, MemoDelta) = {
    val before = CheckpointMemo.buildSecondsByTag
    val b0 = CheckpointMemo.buildSeconds
    var n = -1L
    val op = Ops.timed(name, name) { n = fn(spark, dir).count() }
    val after = CheckpointMemo.buildSecondsByTag
    val byTag = after.collect {
      case (t, s) if s > before.getOrElse(t, 0.0) => t -> (s - before.getOrElse(t, 0.0))
    }
    val memo = MemoDelta(CheckpointMemo.buildSeconds - b0, byTag.size, byTag)
    val checked = expected match {
      case _ if !op.ok => op
      case None => op.failWith("no expected count recorded")
      case Some(want) if want != n => op.failWith(s"count $n, expected $want")
      case _ => op
    }
    (checked, memo)
  }

  /** Expected counts committed with the benchmark: `{"q..": n, ...}`. */
  def readCounts(path: java.nio.file.Path): Map[String, Long] = Json.read[Map[String, Long]](path)
}
