package graft.perfbench

import org.apache.spark.SparkContext

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. `parent` is the id of the
  * enclosing span (-1 for an op's root). Both clocks are kept: the
  * monotonic one for durations, the wall one to place Spark jobs
  * (whose listener events carry epoch milliseconds) inside spans. */
final case class Span(id: Int, name: String, op: String, pass: Int,
    parent: Int, startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def durNs: Long = endNs - startNs
  /** The Spark job group every job started inside this span carries. */
  def group: String = Tracer.group(pass, op, name)
}

object Spans {
  /** Self time of every span: its duration minus the durations of its
    * direct children. Over one op's spans the self times sum to the
    * root's duration exactly when children nest inside their parent
    * and do not overlap, which the single-threaded tracer guarantees. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.map(s => s.id -> (s.durNs - children.getOrElse(s.id, 0L))).toMap
  }

  /** Relative gap between an op's summed self times and its wall. */
  def selfSumError(opSpans: Seq[Span], wallNs: Long): Double = {
    val self = selfNs(opSpans).values.sum
    math.abs(self - wallNs).toDouble / math.max(1L, wallNs)
  }
}

/** In-memory span recorder. Disabled, it records only each op's root
  * span and tags the op's jobs with one group; enabled, every span retags the
  * thread's job group, so the listener can attribute each job to the
  * innermost span that started it. Spans are written out once, when
  * the run ends. */
final class Tracer(sc: SparkContext) {
  /** Record nested spans; switched per pass, so one run can compare
    * traced and untraced passes. */
  var enabled = false

  private val recorded = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var pass = -1
  private var op = ""

  def spans: Seq[Span] = recorded.toSeq

  /** Time `body` as the root span of op `name` in pass `passIdx`. */
  def op[A](passIdx: Int, name: String)(body: => A): A = {
    pass = passIdx
    op = name
    span("op")(body)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled && name != "op") body
    else {
      val parent = open.headOption
      val s0 = Span(recorded.size, name, op, pass, parent.map(_.id).getOrElse(-1),
        System.nanoTime(), 0L, System.currentTimeMillis(), 0L)
      recorded += s0
      open = s0 :: open
      sc.setJobGroup(s0.group, s0.group, interruptOnCancel = false)
      try body
      finally {
        val done = s0.copy(endNs = System.nanoTime(),
          endMs = System.currentTimeMillis())
        recorded(s0.id) = done
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(p.group, p.group, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
      }
    }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = recorded.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","op":"${s.op}","pass":${s.pass},""" +
        s""""parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  def group(pass: Int, op: String, span: String): String = s"pb|$pass|$op|$span"

  /** (pass, op, span) back out of a job group, if it is one of ours. */
  def parse(group: String): Option[(Int, String, String)] =
    Option(group).map(_.split('|')).collect {
      case Array("pb", p, o, s) => (p.toInt, o, s)
    }
}
