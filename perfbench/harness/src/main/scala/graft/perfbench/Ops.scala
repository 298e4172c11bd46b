package graft.perfbench

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule, JavaTypeable}

/** One timed operation of a workload: a query or an import sink. It
  * fails on an exception or on a failed output check. */
final case class OpResult(name: String, seconds: Double, ok: Boolean, error: String = "") {
  def failWith(why: String): OpResult =
    if (!ok) this else copy(ok = false, error = why)
}

object Ops {
  /** Run `body` as operation `name`, its jobs attributed to `group`,
    * timing it and catching any failure. */
  def timed(group: String, name: String)(body: => Unit): OpResult = LayerListener.within(group) {
    val t0 = System.nanoTime()
    try { body; OpResult(name, (System.nanoTime() - t0) / 1e9, ok = true) }
    catch {
      case e: Throwable =>
        OpResult(name, (System.nanoTime() - t0) / 1e9, ok = false,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  /** Compare observed counts with expected ones; the names of the
    * mismatches, empty when every count matches. */
  def mismatches(expected: Seq[(String, Long)], observed: Map[String, Long]): Seq[String] =
    expected.collect {
      case (k, want) if !observed.get(k).contains(want) =>
        s"$k: expected $want, got ${observed.get(k).map(_.toString).getOrElse("nothing")}"
    }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Every JSON file the benchmark reads or writes. */
object Json {
  private val mapper = new ObjectMapper() with ClassTagExtensions
  mapper.registerModule(DefaultScalaModule).enable(SerializationFeature.INDENT_OUTPUT)
    .disable(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES)

  /** NaN and infinities have no JSON form; they are written as null. */
  private def clean(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => None
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k -> clean(x) }
    case s: Iterable[_] => s.map(clean)
    case other => other
  }

  def write(v: Any): String = mapper.writeValueAsString(clean(v)) + "\n"
  def write(path: Path, v: Any): Unit = Files.writeString(path, write(v))
  def read[A: JavaTypeable](path: Path): A = mapper.readValue[A](path.toFile)
}
