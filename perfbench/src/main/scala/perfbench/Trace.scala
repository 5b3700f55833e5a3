package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans around the benchmark's own calls into the program's
  * layers. Off (the end-to-end runs) a span is just the call; on (the
  * traced run) each records name, start, end, parent and workload, and
  * the spans are written out when the run ends. */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, workload: String, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  @volatile var on = false
  var workload = ""
  private val spans = ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = -1 }

  /** Time `f` as span `name` under the calling thread's open span. */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val parent = current.get
      val id = synchronized { spans += null; spans.size - 1 }
      current.set(id)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        current.set(parent)
        synchronized { spans(id) = Span(id, parent, name, workload, t0, t1) }
      }
    }

  /** Record a span observed after the fact (a micro-batch, from the
    * streaming listener) under span `parent`. */
  def record(name: String, parent: Int, startNs: Long, endNs: Long): Unit =
    if (on) synchronized { spans += Span(spans.size, parent, name, workload, startNs, endNs) }

  def openSpan: Int = current.get

  def all: Seq[Span] = synchronized(spans.filter(_ != null).toSeq)

  /** Self time per span name: its duration minus the part of its interval
    * that its child spans cover, summed over all spans of that name. */
  def selfTimesS: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = union(children.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.durNs - covered) / 1e9
      }.sum
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  def writeJson(file: java.io.File): Unit = {
    val ss = all
    val t0 = if (ss.isEmpty) 0L else ss.map(_.startNs).min
    val sb = new StringBuilder("{\"spans\":[\n")
    sb.append(ss.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","workload":"${s.workload}","start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f}"""
    }.mkString(",\n"))
    sb.append("\n],\"self_s\":{")
    sb.append(selfTimesS.toSeq.sortBy(_._1).map { case (k, v) => f""""$k":$v%.6f""" }.mkString(","))
    sb.append("}}\n")
    java.nio.file.Files.write(file.toPath, sb.toString.getBytes("UTF-8"))
  }
}

/** Quantiles by linear interpolation between order statistics. */
object Stat {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
