package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark runtime totals of one attribution group (a query, a module,
  * an ingest step or a whole run). Times in seconds, sizes in bytes. */
final case class RuntimeAgg(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runS: Double = 0, cpuS: Double = 0, schedDelayS: Double = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0) {
  def +(o: RuntimeAgg): RuntimeAgg = RuntimeAgg(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, runS + o.runS, cpuS + o.cpuS, schedDelayS + o.schedDelayS,
    shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite, spill + o.spill)
}

/** A `SparkListener` the benchmark registers itself. Each job is
  * attributed to the operation running when it starts
  * ([[LayerListener.current]]): every workload is closed-loop with one
  * client, so that operation is unique, whichever thread submits the
  * job — the caller's, a streaming query's micro-batch thread or a
  * `foreachBatch` sink's. Stages and tasks follow their job. */
final class LayerListener extends SparkListener {
  import LayerListener.current

  private val stageGroup = mutable.Map.empty[Int, String]
  private val aggs = mutable.Map.empty[String, RuntimeAgg]
  // per completed stage: (group, wall seconds, task run times in ms)
  private val stageRuns = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val stageWall = mutable.ArrayBuffer.empty[(String, Double, (Int, Int))]

  private def add(g: String, a: RuntimeAgg): Unit =
    aggs(g) = aggs.getOrElse(g, RuntimeAgg()) + a

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = current
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
    add(g, RuntimeAgg(jobs = 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val g = stageGroup.getOrElse(si.stageId, current)
    add(g, RuntimeAgg(stages = 1))
    for (s <- si.submissionTime; c <- si.completionTime)
      stageWall += ((g, (c - s) / 1e3, (si.stageId, si.attemptNumber())))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val g = stageGroup.getOrElse(e.stageId, current)
      val info = e.taskInfo
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val delayMs = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      add(g, RuntimeAgg(tasks = 1, runS = m.executorRunTime / 1e3,
        cpuS = m.executorCpuTime / 1e9, schedDelayS = delayMs / 1e3,
        shuffleRead = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        spill = m.diskBytesSpilled))
      stageRuns.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  /** Totals per attribution group. */
  def byGroup: Map[String, RuntimeAgg] = synchronized(aggs.toMap)

  /** Max over median task run time in the slowest stage (by wall) of
    * the given groups; 1.0 when no stage ran. */
  def taskSkew(groups: String => Boolean): Double = synchronized {
    val mine = stageWall.filter(s => groups(s._1))
    if (mine.isEmpty) 1.0
    else {
      val runs = stageRuns.getOrElse(mine.maxBy(_._2)._3, mutable.ArrayBuffer.empty[Long]).sorted
      if (runs.isEmpty) 1.0
      else {
        val med = runs(runs.size / 2)
        if (med <= 0) 1.0 else runs.last.toDouble / med
      }
    }
  }
}

object LayerListener {
  /** The operation jobs are attributed to; "setup" outside any. */
  @volatile private[perfbench] var current: String = "setup"

  /** Attribute the jobs `body` starts to `op`. */
  def within[A](op: String)(body: => A): A = {
    val outer = current
    current = op
    try body finally current = outer
  }
}

/** In-memory trace of one run: spans (name, start, end, parent, run id)
  * and named values, written once as JSON when the run ends. */
final class Trace(runId: String) {
  import Trace.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val values = mutable.LinkedHashMap.empty[String, Any]
  private var nextId = 1
  private var open = List(0)

  /** Time `body` as a span nested under the innermost open span. */
  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.head
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, name, t0, System.nanoTime(), parent)
      open = open.tail
    }
  }

  def put(key: String, v: Any): Unit = values(key) = v

  /** The trace as a JSON-ready tree. */
  def toTree: Map[String, Any] = {
    val t0 = spans.map(_.start).minOption.getOrElse(0L)
    Map("run" -> runId, "values" -> values.toMap, "spans" -> spans.sortBy(_.id).map { s =>
      Map("id" -> s.id, "name" -> s.name, "start_s" -> (s.start - t0) / 1e9,
        "end_s" -> (s.end - t0) / 1e9, "parent" -> s.parent, "run" -> runId)
    }.toSeq)
  }
}

object Trace {
  private final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int)
}
