package erbench

import org.scalatest.funsuite.AnyFunSuite

/** Span arithmetic on synthetic listener events (no Spark). */
class TraceSpec extends AnyFunSuite {

  private def task(launch: Long, finish: Long, run: Long = 0L, in: Long = 0L) =
    TaskRec(launch, finish, run, in, shuffleWriteBytes = 0L, spillBytes = 0L, bytesWritten = 0L)

  test("unionLength merges overlaps, keeps gaps and clips to the window") {
    assert(Trace.unionLength(Nil, 0, 100) == 0)
    assert(Trace.unionLength(Seq((10L, 20L), (30L, 40L)), 0, 100) == 20)
    assert(Trace.unionLength(Seq((10L, 30L), (20L, 40L), (25L, 26L)), 0, 100) == 30)
    assert(Trace.unionLength(Seq((30L, 40L), (10L, 20L), (20L, 30L)), 0, 100) == 30)
    assert(Trace.unionLength(Seq((-50L, 10L), (90L, 200L)), 0, 100) == 20)
    assert(Trace.unionLength(Seq((120L, 200L)), 0, 100) == 0)
  }

  test("self time is wall minus the union of the children; idle is wall minus task time") {
    // parent [0, 1000] ms with children [100, 400] and [300, 600]
    val spans = Seq(
      Span(0, "attach", None, 0, 1000, 1000000000L),
      Span(1, "a", Some(0), 100, 400, 300000000L),
      Span(2, "b", Some(0), 300, 600, 300000000L))
    val tasks = Seq(
      task(100, 200, run = 90, in = 5),
      task(150, 350, run = 180, in = 7),
      task(700, 800, run = 100, in = 11),
      task(950, 1200, run = 240, in = 13)) // launched inside, runs past the end
    val execs = Seq(ExecRec(150, rowsOut = 3, bhj = 2, smj = 1, broadcastBytes = 64),
      ExecRec(1500, rowsOut = 100, bhj = 9, smj = 9, broadcastBytes = 9))
    val c = Trace.aggregate(spans, tasks, jobStartsMs = Seq(100, 650, 2000), execs)

    val parent = c(0)
    assert(parent.wallS == 1.0)
    assert(math.abs(parent.selfS - 0.5) < 1e-9) // children cover [100, 600]
    // tasks cover [100, 350] ∪ [700, 800] ∪ [950, 1000] = 400 ms of 1000
    assert(math.abs(parent.idleS - 0.6) < 1e-9)
    assert(math.abs(parent.taskS - 0.61) < 1e-9)
    assert(parent.inputBytes == 36)
    assert(parent.jobs == 2)
    assert((parent.rowsOut, parent.bhj, parent.smj, parent.broadcastBytes) == (3, 2, 1, 64))

    val a = c(1) // [100, 400]: first two tasks launched inside, busy [100, 350]
    assert(math.abs(a.selfS - 0.3) < 1e-9)
    assert(math.abs(a.idleS - 0.05) < 1e-9)
    assert(math.abs(a.taskS - 0.27) < 1e-9)
    assert(a.jobs == 1 && a.bhj == 2)

    val b = c(2) // [300, 600]: no task launched inside; busy [300, 350]
    assert(b.taskS == 0.0 && b.inputBytes == 0)
    assert(math.abs(b.idleS - 0.25) < 1e-9)
    assert(b.jobs == 0 && b.bhj == 0)
  }

  test("Tracer nests spans by call structure and closes them on exceptions") {
    var ms = 0L
    val t = new Tracer(() => ms, () => ms * 1000000L)
    t.span("outer") {
      ms = 10
      t.span("inner") { ms = 30 }
      intercept[IllegalStateException](t.span("failing") { ms = 40; throw new IllegalStateException })
      ms = 50
    }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(t.spans.map(_.name) == Seq("outer", "inner", "failing"))
    assert(byName("outer").parent.isEmpty)
    assert(byName("inner").parent.contains(byName("outer").id))
    assert(byName("failing").parent.contains(byName("outer").id))
    assert((byName("inner").startMs, byName("inner").endMs) == (10, 30))
    assert(byName("outer").wallS == 0.05)
    val c = Trace.aggregate(t.spans, Nil, Nil, Nil)
    assert(math.abs(c(byName("outer").id).selfS - 0.02) < 1e-9) // 50 - (20 + 10)
  }
}
