package perfbench

import scala.collection.mutable

/** In-memory span recorder for the traced run.
  *
  * A span is one timed call across a layer boundary: name, start, end (ns
  * since the tracer was created), the span that caused it, and the id of the
  * operation (one migration or one catalog pass) it belongs to. Spans are kept
  * in memory and written as JSON once, when the run ends. When tracing is off
  * [[span]] only runs its body, so untraced operations pay nothing.
  *
  * Parents come from a per-thread stack; calls made from a pool thread name
  * their parent explicitly (the pipeline's validation pool).
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
      start: Long, end: Long, attrs: Map[String, String]) {
    def dur: Double = (end - start) / 1e9
  }

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  @volatile var currentOp: Int = 0
  /** When false, [[span]] records nothing even on a traced run (the
    * untraced operations a traced run interleaves to measure overhead).
    */
  @volatile var active: Boolean = enabled

  def now: Long = System.nanoTime() - t0

  def currentParent: Int = stack.get().headOption.getOrElse(0)

  def span[T](name: String, parent: Int = -1,
      attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!active) body
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val p = if (parent >= 0) parent else currentParent
      val op = currentOp
      val start = now
      stack.set(id :: stack.get())
      try body
      finally {
        stack.set(stack.get().tail)
        val end = now
        synchronized { spans += Span(id, name, p, op, start, end, attrs) }
      }
    }

  /** Reserve an id for a span whose interval is known only later (a
    * pipeline phase, inferred from the seam calls around it).
    */
  def reserve(): Int = synchronized { val i = nextId; nextId += 1; i }

  def recordAs(id: Int, name: String, parent: Int, start: Long, end: Long)
      : Unit =
    if (active) synchronized {
      spans += Span(id, name, parent, currentOp, start, end, Map.empty)
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time of every span: its duration minus the union of its
    * children's intervals (children may overlap when a pool runs them).
    */
  def selfTimes: Map[Int, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> ((s.end - s.start - covered) / 1e9)
    }.toMap
  }

  def toJson(runId: String, counts: Map[String, Double]): String = {
    val self = selfTimes
    val ss = all
    val spanJson = ss.map { s =>
      val a = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
        .mkString("{", ",", "}")
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""run":${Json.str(runId)},"op":${s.op},"start_ns":${s.start},""" +
        s""""end_ns":${s.end},"self_s":${self(s.id)},"attrs":$a}"""
    }
    val byName = ss.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, g) =>
      s"""${Json.str(n)}:{"count":${g.size},""" +
        s""""total_s":${g.map(_.dur).sum},""" +
        s""""self_s":${g.map(s => self(s.id)).sum}}"""
    }
    s"""{"run":${Json.str(runId)},""" +
      s""""layers":${byName.mkString("{", ",", "}")},""" +
      s""""counts":${Json.obj(counts.toSeq.sortBy(_._1))},""" +
      s""""spans":${spanJson.mkString("[\n", ",\n", "]")}}"""
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(kvs: Seq[(String, Double)]): String =
    kvs.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
}
