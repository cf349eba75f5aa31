package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.SparkContext

/** One operation of a workload's closed loop: its kind, its wall-clock
  * interval (nanoTime for durations, epoch millis to line it up with
  * Spark listener event times) and the error it threw, if any.
  */
final case class Op(id: Int, kind: String, startNs: Long, endNs: Long,
    startMs: Long, endMs: Long, error: Option[String]) {
  def wallS: Double = (endNs - startNs) / 1e9
  def ok: Boolean = error.isEmpty
}

/** A block of ops with a fixed mix of kinds: its wall interval, process
  * CPU and the ops it holds (`firstOp` until `endOp`).
  */
final case class Block(startNs: Long, endNs: Long, cpuNs: Long, firstOp: Int, endOp: Int) {
  def ops: Int = endOp - firstOp
  def opsPerS: Double = ops / ((endNs - startNs) / 1e9)
  def cpuSPerOp: Double = cpuNs / 1e9 / ops
}

/** A traced interval around one call the benchmark makes into a layer.
  * `parent` is -1 for an op's root span.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

object Spans {

  /** Total length of the union of half-open intervals (overlaps counted
    * once, empty or inverted intervals ignored).
    */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE != Long.MinValue) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE != Long.MinValue) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover (children clipped to the parent, and
    * overlapping children counted once).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }

  /** Self nanoseconds per span name. */
  def selfByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }
}

/** Records the ops of the timed phase and, when `traced`, the spans inside
  * them. Spans stay in memory until the run ends. Each op runs under its
  * own Spark job group, so listener events can be attributed to it; only
  * groups with [[Recorder.GroupPrefix]] are counted.
  */
final class Recorder(sc: SparkContext, val traced: Boolean,
    groupPrefix: String = Recorder.GroupPrefix) {
  val ops = ArrayBuffer.empty[Op]
  val blocks = ArrayBuffer.empty[Block]
  val spans = ArrayBuffer.empty[Span]
  val checkFailures = ArrayBuffer.empty[String]
  private var stack: List[Int] = Nil
  private var curOp = -1
  private var nextSpan = 0

  def jobGroup(opId: Int): String = groupPrefix + opId

  /** Run one op. A throwing op is recorded as failed with its error and
    * yields None; its latency is never reported as a success.
    */
  def op[T](kind: String)(body: => T): Option[T] = {
    val id = ops.size
    curOp = id
    val root = nextSpan
    nextSpan += 1
    stack = List(root)
    sc.setJobGroup(jobGroup(id), kind, interruptOnCancel = false)
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val t1ms = System.currentTimeMillis()
    sc.clearJobGroup()
    stack = Nil
    if (traced) spans += Span(root, -1, id, "bench", t0, t1)
    val err = r.left.toOption.map(Recorder.describe)
    ops += Op(id, kind, t0, t1, t0ms, t1ms, err)
    err.foreach(e => System.err.println(s"[perfbench] op $id ($kind) FAILED: $e"))
    r.toOption
  }

  /** Run one block of ops. */
  def block(body: => Unit): Unit = {
    val first = ops.size
    val c0 = Jvm.sample().cpuNs
    val t0 = System.nanoTime()
    body
    blocks += Block(t0, System.nanoTime(), Jvm.sample().cpuNs - c0, first, ops.size)
  }

  /** Time `body` as a child of the innermost open span (no-op when not
    * traced).
    */
  def span[T](name: String)(body: => T): T =
    if (!traced || stack.isEmpty) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, curOp, name, t0, t1)
      }
    }

  /** An output check: a failure is kept and makes the run incorrect. */
  def check(ok: Boolean, msg: => String): Unit =
    if (!ok) {
      checkFailures += msg
      System.err.println(s"[perfbench] CHECK FAILED: $msg")
    }
}

object Recorder {
  val GroupPrefix = "perfbench-op-"

  def describe(t: Throwable): String = {
    val cause = Option(t.getCause).map(c => s" (cause: $c)").getOrElse("")
    (t.toString + cause).replaceAll("\\s+", " ").take(400)
  }
}
