package erbench

import scala.collection.mutable

/** One listener-observed task: its wall interval on an executor thread
  * (epoch ms) and the task metrics a layer is charged with. */
final case class TaskRec(launchMs: Long, finishMs: Long, runMs: Long,
    inputBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    bytesWritten: Long)

/** One SQL execution: when it started (epoch ms) and what its executed plan
  * held — rows written by a write command, BroadcastHashJoin and
  * SortMergeJoin operators, and the bytes its broadcast exchanges built. */
final case class ExecRec(startMs: Long, rowsOut: Long, bhj: Int, smj: Int,
    broadcastBytes: Long)

/** A closed span around one call into a layer. Epoch-ms bounds attribute
  * listener events; the nanosecond wall is the span's own duration. */
final case class Span(id: Int, name: String, parent: Option[Int],
    startMs: Long, endMs: Long, wallNs: Long) {
  def wallS: Double = wallNs / 1e9
}

/** What one span was charged with (inclusive of the spans it encloses). */
final case class Counters(wallS: Double, selfS: Double, taskS: Double,
    idleS: Double, jobs: Long, rowsOut: Long, inputBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, bytesWritten: Long,
    bhj: Long, smj: Long, broadcastBytes: Long) {
  def get(counter: String): Double = counter match {
    case "wall_s" => wallS
    case "self_s" => selfS
    case "task_s" => taskS
    case "idle_s" => idleS
    case "jobs" => jobs.toDouble
    case "rows_out" => rowsOut.toDouble
    case "input_bytes" => inputBytes.toDouble
    case "shuffle_write_bytes" => shuffleWriteBytes.toDouble
    case "spill_bytes" => spillBytes.toDouble
    case "bytes_written" => bytesWritten.toDouble
    case "bhj" => bhj.toDouble
    case "smj" => smj.toDouble
    case "broadcast_bytes" => broadcastBytes.toDouble
  }
}

/** Span recorder. Spans nest by call structure on the driver thread that
  * opens them; Spark work that a span's body starts on other threads is
  * still charged to it, because attribution is by time: a task belongs to
  * every span open at its launch, an SQL execution to every span open at its
  * start. The benchmark opens spans only around sequential calls, so spans
  * of one level never overlap. */
final class Tracer(clockMs: () => Long = () => System.currentTimeMillis(),
    clockNs: () => Long = () => System.nanoTime()) {
  private val closed = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption
    open.push(id)
    val (ms0, ns0) = (clockMs(), clockNs())
    try body
    finally {
      open.pop()
      closed += Span(id, name, parent, ms0, clockMs(), clockNs() - ns0)
    }
  }

  def spans: Seq[Span] = closed.sortBy(_.id).toSeq
}

object Trace {

  /** Total length of the union of `intervals`, each clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  private def within(t: Long, s: Span) = t >= s.startMs && t <= s.endMs

  /** Charge every span with the events that fall inside it.
    *  - self_s: wall minus the union of its child spans;
    *  - idle_s: wall minus the union of all task intervals inside the span
    *    (driver-serial planning, broadcast builds, job coordination);
    *  - task counters: tasks launched inside the span;
    *  - jobs: job starts inside the span;
    *  - plan counters: SQL executions started inside the span. */
  def aggregate(spans: Seq[Span], tasks: Seq[TaskRec], jobStartsMs: Seq[Long],
      execs: Seq[ExecRec]): Map[Int, Counters] = {
    val children = spans.groupBy(_.parent)
    val taskIntervals = tasks.map(t => (t.launchMs, t.finishMs))
    spans.map { s =>
      val wallMs = s.endMs - s.startMs
      def ms2s(ms: Long) = ms / 1000.0
      val kids = children.getOrElse(Some(s.id), Nil)
      // wall_s stays the nanosecond wall; the ms-resolution interval
      // arithmetic only supplies the parts subtracted from it
      val childMs = unionLength(kids.map(k => (k.startMs, k.endMs)), s.startMs, s.endMs)
      val busyMs = unionLength(taskIntervals, s.startMs, s.endMs)
      val ts = tasks.filter(t => within(t.launchMs, s))
      val es = execs.filter(e => within(e.startMs, s))
      s.id -> Counters(
        wallS = s.wallS,
        selfS = math.max(0.0, s.wallS - ms2s(childMs)),
        taskS = ms2s(ts.map(_.runMs).sum),
        idleS = math.max(0.0, ms2s(wallMs - busyMs)),
        jobs = jobStartsMs.count(within(_, s)).toLong,
        rowsOut = es.map(_.rowsOut).sum,
        inputBytes = ts.map(_.inputBytes).sum,
        shuffleWriteBytes = ts.map(_.shuffleWriteBytes).sum,
        spillBytes = ts.map(_.spillBytes).sum,
        bytesWritten = ts.map(_.bytesWritten).sum,
        bhj = es.map(_.bhj.toLong).sum,
        smj = es.map(_.smj.toLong).sum,
        broadcastBytes = es.map(_.broadcastBytes).sum)
    }.toMap
  }
}
