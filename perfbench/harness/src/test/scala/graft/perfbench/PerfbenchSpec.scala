package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{MediaWikiXml, Multistream}

/** The dump generator and the benchmark's output checks. */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("perfbench-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val tmp: Path = {
    val d = Paths.get("target", "spec-tmp")
    Files.createDirectories(d)
    Files.createTempDirectory(d, "perfbench").toAbsolutePath
  }

  private def gen(shape: String, seed: Long, pages: Int, name: String): (Path, DumpGen.Manifest) = {
    val dir = tmp.resolve(name)
    (dir, DumpGen.generate(DumpGen.shape(shape), seed, pages, dir, xml = true, multistream = true))
  }

  private def bytes(dir: Path): Seq[Seq[Byte]] =
    Seq("dump.xml", "dump.xml.bz2", "index.txt", "manifest.json")
      .map(f => Files.readAllBytes(dir.resolve(f)).toSeq)

  test("the same seed gives the same bytes; another seed does not") {
    val (a, _) = gen("history", 7, 150, "same-a")
    val (b, _) = gen("history", 7, 150, "same-b")
    val (c, _) = gen("history", 8, 150, "other")
    assert(bytes(a) === bytes(b))
    assert(bytes(a).head !== bytes(c).head)
  }

  private def counts(flat: DataFrame): Map[String, Long] = {
    val r = MediaWikiXml.verifySha1(flat).agg(
      countDistinct(col("page_id")), count(lit(1)), countDistinct(col("title")),
      count(when(col("text").isNull, 1)), count(when(col("sha1_ok") === false, 1)),
      countDistinct(when(col("is_redirect"), col("page_id"))),
      count(when(col("is_anon"), 1)), count(when(col("is_minor"), 1)),
      countDistinct(when(col("restrictions").isNotNull, col("page_id")))).head()
    Seq("pages", "revisions", "titles", "deleted", "bad_sha1", "redirects", "anon",
      "minor", "restricted").zipWithIndex.map { case (k, i) => k -> r.getLong(i) }.toMap
  }

  for (shape <- Seq("articles", "history")) {
    test(s"$shape dump: both readers reproduce the manifest and give the same frame") {
      val (dir, m) = gen(shape, 3, 230, s"read-$shape")
      assert(m.streams === 3)
      val plain = MediaWikiXml.flattenRevisions(
        MediaWikiXml.readPages(spark, dir.resolve("dump.xml").toString))
      val multi = MediaWikiXml.flattenRevisions(Multistream.readPages(spark,
        dir.resolve("dump.xml.bz2").toString, dir.resolve("index.txt").toString))
      val want = Map("pages" -> m.pages.toLong, "revisions" -> m.revisions,
        "titles" -> m.pages.toLong, "deleted" -> m.deletedTexts, "bad_sha1" -> m.sha1Mismatches,
        "redirects" -> m.redirects.toLong, "anon" -> m.anonRevisions,
        "minor" -> m.minorRevisions, "restricted" -> m.restricted.toLong)
      assert(counts(plain) === want)
      assert(plain.exceptAll(multi).isEmpty && multi.exceptAll(plain).isEmpty)
      assert(m.sha1Mismatches > 0 && m.deletedTexts > 0 && m.redirects > 0)
      val textBytes = plain.filter(col("text").isNotNull)
        .filter(col("text_bytes") =!= length(encode(col("text"), "UTF-8"))).count()
      assert(textBytes === 0)
      assert(MediaWikiXml.readNamespaces(spark, dir.resolve("dump.xml").toString).count() ===
        m.namespaces)
    }
  }

  test("import checks pass on a correct import and fail the sink a wrong count names") {
    val (dir, _) = gen("history", 5, 120, "import")
    val derby = Some(tmp.resolve("derby"))
    val w = ImportWorkload("history", dir, multistream = true, derby)
    val out = tmp.resolve("import-out")
    val (ops, passS) = w.run(spark, out)
    assert(passS > 0)
    assert(ops.map(_.name) === Seq("revision", "namespace", "page_latest", "jdbc"))
    assert(w.check(spark, out, ops).forall(_.ok))
    Json.write(dir.resolve("manifest.json"),
      DumpGen.Manifest.read(dir).copy(sha1Mismatches = 999999))
    val wrong = ImportWorkload("history", dir, multistream = true, derby).check(spark, out, ops)
    assert(wrong.filter(!_.ok).map(_.name) === Seq("revision"))
    assert(wrong.find(!_.ok).get.error.contains("sha1_ok_false: expected 999999"))
    w.release()
  }

  test("a query whose count differs from its expected count fails") {
    val fn = (s: SparkSession, _: String) => s.range(5).toDF()
    val (ok, _) = QueryWorkload.runQuery(spark, "q_five", fn, "", Some(5L))
    val (bad, _) = QueryWorkload.runQuery(spark, "q_five", fn, "", Some(6L))
    val (missing, _) = QueryWorkload.runQuery(spark, "q_five", fn, "", None)
    assert(ok.ok)
    assert(!bad.ok && bad.error === "count 5, expected 6")
    assert(!missing.ok)
  }

  test("the timed set is each module's lower-median query in the committed times, plus q79/q84") {
    val times = Json.read[PerfbenchSpec.QueryTimes](Paths.get("..", "query_times_sf0.01.json")).seconds
    assert(times.keySet === graft.SparkEntry.queries.keySet)
    val picked = QueryWorkload.modules.map { case (_, defs) =>
      val byTime = defs.map(_.name).sortBy(q => (times(q), q))
      byTime((byTime.size - 1) / 2)
    }
    assert(QueryWorkload.sample.sorted ===
      (picked ++ Seq("q79_curate_corpus", "q84_curate_and_pack")).distinct.sorted)
  }

  test("jobs a streaming query runs on its own threads count under the running operation") {
    val src = tmp.resolve("stream-src").toString
    spark.range(20).toDF("x").write.mode("overwrite").parquet(src)
    val lis = new LayerListener
    spark.sparkContext.addSparkListener(lis)
    val op = try Ops.timed("q_stream", "q_stream") {
      val q = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        .groupBy().count().writeStream.outputMode("complete").format("memory")
        .queryName("perfbench_stream")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(lis)
    }
    assert(op.ok, op.error)
    val groups = lis.byGroup
    assert(groups.keySet === Set("q_stream"))
    assert(groups("q_stream").jobs > 0 && groups("q_stream").tasks > 0)
  }

  test("the committed expected counts cover the timed set and every module") {
    val counts = QueryWorkload.readCounts(Paths.get("..", "expected_counts_sf0.01.json"))
    assert(counts.keySet === graft.SparkEntry.queries.keySet)
    assert(QueryWorkload.sample.forall(counts.contains))
    assert(QueryWorkload.sample.map(QueryWorkload.moduleOf).toSet ===
      QueryWorkload.modules.map(_._1).toSet)
    assert(QueryWorkload.moduleOf.keySet === graft.SparkEntry.queries.keySet)
  }

  test("a traced run reports exactly the per-layer metrics BENCHMARK.json declares") {
    val declared = Json.read[PerfbenchSpec.Benchmark](Paths.get("..", "..", "BENCHMARK.json"))
      .per_layer.map(m => m.name -> m.unit)
    assert(declared === Layers.names)
  }

  test("seed 0 keeps name order; other seeds permute deterministically") {
    val names = QueryWorkload.sample
    assert(QueryWorkload.order(names, 0) === names.sorted)
    assert(QueryWorkload.order(names, 9) === QueryWorkload.order(names, 9))
    assert(QueryWorkload.order(names, 9).sorted === names.sorted)
    assert(QueryWorkload.order(names, 9) !== names.sorted)
  }
}

object PerfbenchSpec {
  final case class QueryTimes(seconds: Map[String, Double])
  final case class Metric(name: String, unit: String)
  final case class Benchmark(per_layer: Seq[Metric])
}
