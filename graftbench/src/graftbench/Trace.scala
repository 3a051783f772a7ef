package graftbench

import scala.collection.mutable

/** One timed op of the closed loop. `counts`/`overheadS` exist only in
  * the traced run.
  */
final case class OpSample(kind: String, startMs: Long, endMs: Long, wallS: Double,
                          compiles: Long, counts: Option[SparkCounts], overheadS: Double)

final case class Span(name: String, op: Int, parent: String, startNs: Long, endNs: Long)

/** Spans around the benchmark's own calls into each engine layer. Off in
  * the untraced run (the body runs bare); on, spans stay in memory and
  * are written out when the run ends.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var op = -1
  private var stack: List[String] = Nil

  def beginOp(i: Int, kind: String): Unit = { op = i; stack = List(kind) }
  def endOp(): Unit = { op = -1; stack = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled || op < 0) body
    else {
      val parent = stack.headOption.getOrElse("")
      stack = name :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(name, op, parent, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Summed span time (s) per op, averaged over the ops of `kinds`. */
  def perOp(name: String, ops: Seq[(Int, OpSample)], kinds: Set[String]): Double = {
    val ids = ops.collect { case (i, s) if kinds(s.kind) => i }.toSet
    if (ids.isEmpty) 0.0
    else spans.filter(s => s.name == name && ids(s.op))
      .map(s => (s.endNs - s.startNs) / 1e9).sum / ids.size
  }

  /** Spans named `name` per op, averaged over the ops of `kinds`. */
  def countPerOp(name: String, ops: Seq[(Int, OpSample)], kinds: Set[String]): Double = {
    val ids = ops.collect { case (i, s) if kinds(s.kind) => i }.toSet
    if (ids.isEmpty) 0.0 else spans.count(s => s.name == name && ids(s.op)).toDouble / ids.size
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      s"""{"name":"${s.name}","op":${s.op},"parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten samples above it,
    * or None when there are fewer than 11 samples.
    */
  def tailPercentile(n: Int): Option[Int] =
    (99 to 50 by -1).find(p => n * (100 - p) / 100.0 >= 10.0)

  /** Wall time of [startMs, endMs] not covered by any task interval. */
  def uncovered(startMs: Long, endMs: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (endMs - startMs) - covered
  }
}
