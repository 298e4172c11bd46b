package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: a named workload, closed-loop with
  * one client, in one session.
  *
  * Setup runs from JVM start to the first timed call: the session
  * build, then a warm-up, because the first work in a JVM pays JIT
  * compilation, codegen and class loading for seconds. The query
  * suite first fills its table cache. The warm-up then repeats a round —
  * an untimed pass of the query set, or an import of small dumps of both
  * shapes — until the JIT settles or a round cap is reached (see
  * [[warmUp]]). Timed passes follow, each a complete import or one pass
  * of the query set, until `--seconds` have passed, at least one.
  *
  * With `--trace 0` it reports the end-to-end metrics; with `--trace 1`
  * passes alternate between traced (listener on, ingest prefixes
  * materialized) and untraced ones, at least one of each, and it reports
  * the per-layer metrics of the traced passes and the tracing overhead.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *        --work DIR --data DIR --out FILE
  *        [--articles DIR --history DIR --articles-warmup DIR
  *         --history-warmup DIR] [--counts FILE] --warmup-rounds N
  */
object Main {
  val Import = "import_dumps"
  val QuerySuite = "query_suite_sf0.01"

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def path(k: String): Path = Paths.get(apply(k))
    val workload: String = apply("workload")
    val seed: Long = apply("seed").toLong
    val seconds: Double = apply("seconds").toDouble
    val traced: Boolean = apply("trace") == "1"
    val cores: Int = apply("cores").toInt
    val work: Path = path("work")
  }

  /** What one timed pass measured; `layers` and `trace` only when traced. */
  final case class Pass(passS: Double, ops: Seq[OpResult], traced: Boolean,
      layers: Map[String, Double], info: Map[String, Double], trace: Option[Trace])

  def main(args: Array[String]): Unit = {
    val a = Args(args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    Files.createDirectories(a.work)
    val spark =
      if (a.workload == QuerySuite || a.workload == "record-counts") Session.bench(a.cores, a.work.toString)
      else Session.importer(a.cores, a.work.toString)
    val result =
      try a.workload match {
        case Import =>
          // one fresh database per run; each import overwrites its table
          val derby = a.work.resolve("derby")
          deleteTree(derby)
          def imports(suffix: String) = Seq(
            ImportWorkload("articles", a.path(s"articles$suffix"), multistream = false, None),
            ImportWorkload("history", a.path(s"history$suffix"), multistream = true, Some(derby)))
          val ws = imports("")
          val rounds = warmUp(a("warmup-rounds").toInt) { k =>
            for (w <- imports("-warmup")) {
              val out = a.work.resolve(s"warmup-${w.label}$k")
              w.check(spark, out, w.run(spark, out)._1).find(!_.ok).foreach { op =>
                throw new IllegalStateException(s"warm-up import failed: ${op.name}: ${op.error}")
              }
              deleteTree(out)
            }
          }
          try measure(a, spark, Map("warmup_rounds" -> rounds.toDouble),
            (k, lis) => importPass(a, spark, ws, k, lis))
          finally { ws.foreach(_.release()); deleteTree(derby) }
        case QuerySuite =>
          val counts = QueryWorkload.readCounts(a.path("counts"))
          val dataDir = a.path("data").resolve("sf0.01").toString
          val cacheS = QueryWorkload.fillCache(spark, dataDir)
          // a warm-up round is an untimed pass: the same plans, so the same
          // generated classes, which the timed passes then find compiled
          val rounds = warmUp(a("warmup-rounds").toInt) { _ =>
            graft.CheckpointMemo.clear()
            QueryWorkload.sample.foreach(q => graft.SparkEntry.queries(q)(spark, dataDir).count())
          }
          measure(a, spark, Map("Tables.cache_build_s" -> cacheS, "warmup_rounds" -> rounds.toDouble),
            (k, lis) => queryPass(a, spark, dataDir, counts, k, lis))
        case "record-counts" => recordCounts(a, spark)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      } finally {
        QueryWorkload.teardown()
        spark.stop()
      }
    result.foreach(Json.write(a.path("out"), _))
  }

  /** JIT compile seconds so far, all compiler threads. */
  private def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Warm-up: run `round` at least [[MinWarmupRounds]] times, then
    * until the JIT compile time a round adds stops falling (it reaches
    * [[JitPlateau]] of the previous round's) or `maxRounds` rounds have
    * run. The cap is a round count, not a time, so every run measures
    * from the same amount of warm-up work. Spark keeps compiling some
    * code for minutes, so the plateau is not zero; `jvm.jit_s` reports
    * what is left per timed pass. Returns the number of rounds. */
  private def warmUp(maxRounds: Int)(round: Int => Unit): Int = {
    var k = 0
    var lastJit = Double.PositiveInfinity
    var settled = false
    while (k < MinWarmupRounds || (!settled && k < maxRounds)) {
      val j0 = jitS
      k += 1
      round(k)
      val jit = jitS - j0
      settled = jit >= JitPlateau * lastJit
      lastJit = jit
    }
    k
  }

  val MinWarmupRounds = 2
  val JitPlateau = 0.8

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(Double.NaN)

  /** The largest heap use right after a garbage collection since the
    * last [[LiveHeap.reset]], in MiB: what the program still held. The
    * heap is sized and touched up front, so neither the resident set
    * nor the pools' peak use (eden fills to its capacity between
    * collections) follows the program; this does. */
  private object LiveHeap extends javax.management.NotificationListener {
    import com.sun.management.GarbageCollectionNotificationInfo
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    @volatile private var peak = 0L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(_
      .asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(this, null, null))

    override def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }

    def reset(): Unit = synchronized { peak = 0L }
    def peakMb: Double = peak.toDouble / 1048576.0
  }

  /** Timed passes after setup. A traced pass gets a fresh listener,
    * removed when it ends. `setup` holds values measured in setup. */
  private def measure(a: Args, spark: SparkSession, setup: Map[String, Double],
      pass: (Int, Option[LayerListener]) => Pass): Option[Map[String, Any]] = {
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    LiveHeap.reset()
    val least = if (a.traced) 2 else 1
    val passes = mutable.ArrayBuffer.empty[Pass]
    val start = System.nanoTime()
    var k = 1
    var more = true
    while (more) {
      val lis = if (a.traced && k % 2 == 1) Some(new LayerListener) else None
      lis.foreach(spark.sparkContext.addSparkListener(_))
      val j0 = jitS
      val p = try pass(k, lis) finally lis.foreach(spark.sparkContext.removeSparkListener(_))
      passes += (if (p.traced) p.copy(layers = p.layers + ("jvm.jit_s" -> (jitS - j0))) else p)
      System.err.println(f"[perfbench] pass $k%d traced=${p.traced} pass=${p.passS}%.3f s " +
        p.ops.map(o => f"${o.name}=${o.seconds}%.3f").mkString(" "))
      val now = System.nanoTime()
      more = passes.size < least || (now - start) / 1e9 < a.seconds
      k += 1
    }
    report(a, setupS, setup, passes.toSeq)
  }

  /** The result: end-to-end metrics untraced, per-layer ones traced.
    * `setup` values that are not per-layer metrics go to `info`. */
  private def report(a: Args, setupS: Double, setup: Map[String, Double],
      passes: Seq[Pass]): Option[Map[String, Any]] = {
    if (a.traced) writeTrace(a, passes)
    val ops = passes.flatMap(_.ops)
    val failed = ops.count(!_.ok)
    val layerNames = Layers.names.map(_._1).toSet
    val metrics: Seq[(String, Double, String)] =
      if (!a.traced) Seq(
        ("pass_s", Ops.median(passes.map(_.passS)), "s"),
        ("setup_s", setupS, "s"))
      else {
        val traced = passes.filter(_.traced)
        val tracedPass = Ops.median(traced.map(_.passS))
        val plainPass = Ops.median(passes.filter(!_.traced).map(_.passS))
        val measured = setup ++ Map("trace.pass_s" -> tracedPass,
          "trace.untraced_pass_s" -> plainPass, "trace.overhead_frac" -> (tracedPass / plainPass - 1),
          "jvm.peak_live_heap_mb" -> LiveHeap.peakMb)
        Layers.names.map { case (n, unit) =>
          (n, measured.getOrElse(n, traced.map(_.layers.getOrElse(n, 0.0)).sum / traced.size), unit)
        }
      }
    val info = passes.flatMap(_.info.keys).distinct.map { key =>
      key -> Ops.median(passes.flatMap(_.info.get(key)))
    } ++ setup.filter(kv => !layerNames(kv._1)) ++ Seq(
      "passes" -> passes.size.toDouble, "peak_rss_mb" -> peakRssMb,
      "ops_failed_frac" -> failed.toDouble / math.max(1, ops.size))
    Some(ListMap("correct" -> (failed == 0), "attempted" -> ops.size, "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*),
      "info" -> ListMap(info: _*),
      "errors" -> ops.filter(!_.ok).map(o => s"${o.name}: ${o.error}").distinct))
  }

  /** The traced passes' spans and values, written once as the run ends. */
  private def writeTrace(a: Args, passes: Seq[Pass]): Unit = {
    val dir = a.work.resolve("traces")
    Files.createDirectories(dir)
    Json.write(dir.resolve(s"${a.workload}-seed${a.seed}.json"), passes.flatMap(_.trace).map(_.toTree))
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  private def runtimeLayers(prefix: String, agg: RuntimeAgg, wallS: Double, cores: Int,
      gcS: Double, skew: Double): Map[String, Double] = Map(
    s"$prefix.jobs" -> agg.jobs.toDouble, s"$prefix.stages" -> agg.stages.toDouble,
    s"$prefix.tasks" -> agg.tasks.toDouble, s"$prefix.executor_run_s" -> agg.runS,
    s"$prefix.executor_cpu_s" -> agg.cpuS, s"$prefix.cpu_util" -> agg.cpuS / (wallS * cores),
    s"$prefix.scheduler_delay_s" -> agg.schedDelayS, s"$prefix.gc_s" -> gcS,
    s"$prefix.shuffle_read_bytes" -> agg.shuffleRead.toDouble,
    s"$prefix.shuffle_write_bytes" -> agg.shuffleWrite.toDouble,
    s"$prefix.spill_bytes" -> agg.spill.toDouble, s"$prefix.task_skew" -> skew)

  /** One pass imports both dumps; the pass time is their sum. */
  private def importPass(a: Args, spark: SparkSession, ws: Seq[ImportWorkload], k: Int,
      lis: Option[LayerListener]): Pass = {
    val trace = new Trace(s"${a.workload}-seed${a.seed}-pass$k")
    val gc0 = gcSeconds
    val runs = ws.map { w =>
      val out = a.work.resolve(s"${w.label}-pass$k")
      deleteTree(out)
      val (ops, passS, steps) =
        if (lis.isDefined) w.tracedRun(spark, out, trace)
        else { val (o, s) = w.run(spark, out); (o, s, Map.empty[String, Double]) }
      val checked = LayerListener.within("check")(w.check(spark, out, ops))
      val parquet = w.parquetBytes(out)
      val jdbcRows = if (w.jdbc) w.jdbcRows else 0L
      deleteTree(out)
      (w, checked.map(o => o.copy(name = s"${w.label}:${o.name}")), passS, steps, parquet, jdbcRows)
    }
    val gcS = gcSeconds - gc0
    val passS = runs.map(_._3).sum
    val pages = ws.map(_.manifest.pages.toLong).sum
    val inBytes = ws.map(_.manifest.xmlBytes).sum
    val parquet = runs.map(_._5).sum
    val info = Map("pages_per_s" -> pages / passS,
      "output_bytes_per_input_byte" -> parquet.toDouble / inBytes,
      "pages" -> pages.toDouble, "input_bytes" -> inBytes.toDouble) ++
      runs.map(r => s"${r._1.label}_pages_per_s" -> r._1.manifest.pages / r._3)
    val layers = lis.map { l =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val groups = l.byGroup
      val sinkAgg = groups.collect { case (g, x) if g.contains(":pipeline:") => x }
        .foldLeft(RuntimeAgg())(_ + _)
      groups.foreach { case (g, x) =>
        trace.put(s"group.$g", Map("jobs" -> x.jobs, "stages" -> x.stages, "tasks" -> x.tasks,
          "executor_run_s" -> x.runS, "executor_cpu_s" -> x.cpuS,
          "scheduler_delay_s" -> x.schedDelayS, "shuffle_read_bytes" -> x.shuffleRead,
          "shuffle_write_bytes" -> x.shuffleWrite, "spill_bytes" -> x.spill))
      }
      // the same layer in both imports (flatten, classify, ...) sums
      val steps = runs.flatMap(_._4.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
      val parseSteps = runs.map { r =>
        val reader = if (r._1.multistream) "Multistream" else "MediaWikiXml"
        (groups.getOrElse(s"${r._1.label}:prefix:$reader.readPages", RuntimeAgg()).cpuS,
          r._4(s"$reader.readPages"))
      }
      val history = ws.find(_.multistream)
      steps.map { case (s, v) => s"$s.s" -> v } ++
        runtimeLayers("spark", sinkAgg, passS, a.cores, gcS, l.taskSkew(_.contains(":pipeline:"))) ++
        Map("ingest.pages" -> pages.toDouble,
          "ingest.revisions" -> ws.map(_.manifest.revisions).sum.toDouble,
          "ingest.input_bytes" -> inBytes.toDouble, "Sinks.parquet_bytes" -> parquet.toDouble,
          "Sinks.jdbc_rows" -> runs.map(_._6).sum.toDouble,
          "Multistream.streams" -> history.map(w => graft.ingest.Multistream.streamRanges(spark,
            w.dumpDir.resolve("dump.xml.bz2").toString, w.dumpDir.resolve("index.txt").toString)
            .size.toDouble).getOrElse(0.0),
          "ingest.pages_per_s" -> pages / passS,
          "ingest.output_bytes_per_input_byte" -> parquet.toDouble / inBytes,
          "ingest.parse_cpu_util" -> parseSteps.map(_._1).sum / (parseSteps.map(_._2).sum * a.cores))
    }.getOrElse(Map.empty)
    val ops = runs.flatMap(_._2)
    trace.put("pass_s", passS)
    trace.put("ops", ops.map(o => Map("name" -> o.name, "s" -> o.seconds, "ok" -> o.ok,
      "error" -> o.error)))
    trace.put("layers", layers)
    Pass(passS, ops, lis.isDefined, layers, info, Some(trace).filter(_ => lis.isDefined))
  }

  private def queryPass(a: Args, spark: SparkSession, dataDir: String, counts: Map[String, Long],
      k: Int, lis: Option[LayerListener]): Pass = {
    // every pass pays its memo builds, as a user running the suite once does
    graft.CheckpointMemo.clear()
    val trace = new Trace(s"${a.workload}-seed${a.seed}-pass$k")
    val gc0 = gcSeconds
    val tPass = System.nanoTime()
    val fns = graft.SparkEntry.queries
    val runs = QueryWorkload.order(QueryWorkload.sample, a.seed).map { q =>
      def run = QueryWorkload.runQuery(spark, q, fns(q), dataDir, counts.get(q))
      q -> (if (lis.isDefined) trace.span(q)(run) else run)
    }
    val passS = (System.nanoTime() - tPass) / 1e9
    val gcS = gcSeconds - gc0
    val ops = runs.map(_._2._1)
    val memoS = runs.map(_._2._2.seconds).sum
    val info = Map("suite_s" -> passS, "query_p50_s" -> Ops.median(ops.map(_.seconds)),
      "memo_build_s" -> memoS, "queries" -> ops.size.toDouble)
    val layers = lis.map { l =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val groups = l.byGroup
      val perModule = QueryWorkload.modules.map(_._1).flatMap { m =>
        val qs = runs.filter(r => QueryWorkload.moduleOf(r._1) == m)
        val agg = qs.map(r => groups.getOrElse(r._1, RuntimeAgg())).foldLeft(RuntimeAgg())(_ + _)
        Seq(s"ops.$m.s" -> qs.map(_._2._1.seconds).sum, s"ops.$m.jobs" -> agg.jobs.toDouble,
          s"ops.$m.tasks" -> agg.tasks.toDouble, s"ops.$m.executor_cpu_s" -> agg.cpuS,
          s"ops.$m.shuffle_bytes" -> (agg.shuffleRead + agg.shuffleWrite).toDouble)
      }
      val all = groups.values.foldLeft(RuntimeAgg())(_ + _)
      runs.foreach { case (q, (op, memo)) =>
        val x = groups.getOrElse(q, RuntimeAgg())
        trace.put(s"query.$q", Map("module" -> QueryWorkload.moduleOf(q), "s" -> op.seconds,
          "ok" -> op.ok, "error" -> op.error, "jobs" -> x.jobs, "stages" -> x.stages,
          "tasks" -> x.tasks, "executor_cpu_s" -> x.cpuS, "scheduler_delay_s" -> x.schedDelayS,
          "shuffle_bytes" -> (x.shuffleRead + x.shuffleWrite), "memo_build_s" -> memo.seconds,
          "memo_builds_by_tag" -> memo.byTag))
      }
      perModule.toMap ++
        runtimeLayers("spark", all, passS, a.cores, gcS, l.taskSkew(_ => true)) ++
        Map("CheckpointMemo.build_s" -> memoS,
          "CheckpointMemo.builds" -> runs.map(_._2._2.builds).sum.toDouble,
          "queries.p50_s" -> Ops.median(ops.map(_.seconds)))
    }.getOrElse(Map.empty)
    trace.put("pass_s", passS)
    trace.put("layers", layers)
    Pass(passS, ops, lis.isDefined, layers, info, Some(trace).filter(_ => lis.isDefined))
  }

  /** Record every query's sf0.01 count — the expected counts the suite
    * checks against. Run once per change to the query surface. */
  private def recordCounts(a: Args, spark: SparkSession): Option[Map[String, Any]] = {
    val dir = a.path("data").resolve("sf0.01").toString
    val counts = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (q, fn) =>
      try Some(q -> fn(spark, dir).count())
      catch { case e: Throwable => System.err.println(s"[perfbench] $q failed: $e"); None }
    }
    Some(ListMap(counts: _*))
  }
}

/** Every per-layer metric a traced run reports, with its unit; a layer
  * a workload does not reach reads 0. */
object Layers {
  private val ingestSteps = Seq("MediaWikiXml.readPages", "Multistream.readPages",
    "MediaWikiXml.readNamespaces", "Multistream.readNamespaces",
    "MediaWikiXml.flattenRevisions", "MediaWikiXml.classify", "MediaWikiXml.verifySha1",
    "Sinks.writeParquetPartitioned", "MediaWikiXml.latestRevisionPerPage", "Sinks.writeJdbc")

  val names: Seq[(String, String)] =
    ingestSteps.map(s => s"$s.s" -> "s") ++ Seq(
      "ingest.pages" -> "count", "ingest.revisions" -> "count",
      "ingest.input_bytes" -> "bytes", "Sinks.parquet_bytes" -> "bytes",
      "Sinks.jdbc_rows" -> "count", "Multistream.streams" -> "count",
      "ingest.pages_per_s" -> "pages/s", "ingest.output_bytes_per_input_byte" -> "ratio",
      "ingest.parse_cpu_util" -> "ratio") ++
    QueryWorkload.modules.map(_._1).flatMap(m => Seq(s"ops.$m.s" -> "s",
      s"ops.$m.jobs" -> "count", s"ops.$m.tasks" -> "count",
      s"ops.$m.executor_cpu_s" -> "s", s"ops.$m.shuffle_bytes" -> "bytes")) ++ Seq(
      "queries.p50_s" -> "s", "CheckpointMemo.build_s" -> "s",
      "CheckpointMemo.builds" -> "count", "Tables.cache_build_s" -> "s",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.cpu_util" -> "ratio",
      "spark.scheduler_delay_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes", "spark.task_skew" -> "ratio",
      "trace.pass_s" -> "s", "trace.untraced_pass_s" -> "s", "trace.overhead_frac" -> "ratio",
      "jvm.peak_live_heap_mb" -> "MiB", "jvm.jit_s" -> "s")
}
