package erbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.erbench.BenchListener

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1 --work DIR`.
  *
  * Both modes write the workload's corpus `setups` times, compute its
  * oracles and time one batch. Untraced (`--trace 0`): then repeat the timed
  * cycle until `S` seconds of cycles have run (at least one) and report the
  * end-to-end metrics, medians over cycles. Traced (`--trace 1`): then one
  * untraced cycle, the batch once more as the traced run composes it but
  * without the listener, and the batch and one cycle with the listener
  * installed and spans around each layer call; reports the per-layer metrics
  * and the tracing overhead (the last two batches' wall difference).
  *
  * stdout: one `{"erbench_env": ...}` line (seed, cores, load, versions,
  * sizes), under --trace 1 one `{"erbench_spans": ...}` line with every
  * span's full counter set, and last the result line
  * `{"correct", "attempted", "failed", "metrics"}`. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val w = need("workload")
    if (!Workloads.names.contains(w)) usage(s"unknown workload $w")
    val trace = need("trace")
    if (trace != "0" && trace != "1") usage("--trace takes 0 or 1")
    val seconds = need("seconds").toInt
    if (seconds < 1) usage("--seconds must be at least 1")
    Args(w, need("seed").toLong, seconds, trace == "1", need("work"))
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"erbench: $msg\nusage: erbench.Main --workload " +
      s"${Workloads.names.mkString("|")} --seed N --seconds S --trace 0|1 --work DIR")
    sys.exit(2)
  }

  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ").take(3).mkString(" ")
    catch { case _: Exception => "unknown" }

  /** CPU time the hypervisor gave other guests instead of this one, summed
    * over cores (the `steal` column of /proc/stat; NaN where absent). */
  def stealS(): Double =
    try scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split(" +")(8).toDouble / 100
    catch { case _: Exception => Double.NaN }

  def session(work: String, cores: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("erbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val sizes = Sizes.default
    val (load0, steal0) = (loadavg(), stealS())
    val spark = session(a.work, cores, Workloads.shufflePartitions(a.workload, sizes, cores))
    val out =
      try Runner.run(spark, Workloads(a.workload, spark, a.seed, s"${a.work}/data", sizes),
        a.seconds, a.trace)
      finally spark.stop()
    println(Json.obj(Seq("erbench_env" -> Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> (if (a.trace) "1" else "0"), "seconds" -> a.seconds.toString,
      "nproc" -> cores.toString,
      "loadavg_start" -> Json.str(load0), "loadavg_end" -> Json.str(loadavg()),
      "host_steal_s" -> Json.num(stealS() - steal0),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "sizes" -> Json.str(sizes.describe(a.workload)),
      "notes" -> Json.arr(out.notes.map(Json.str)))))))
    if (out.spans.nonEmpty) println(Json.obj(Seq("erbench_spans" -> Json.arr(out.spans))))
    println(out.resultLine)
  }
}

/** Minimal JSON rendering (values are pre-rendered strings). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}

/** Result of one run, ready to print. */
final case class RunOutput(resultLine: String, notes: Seq[String], spans: Seq[String])

object Runner {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this JVM so far, in core-seconds. */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  /** `body`'s result, wall and core-seconds. */
  def measured[T](body: => T): (T, Double, Double) = {
    val (cpu0, t0) = (processCpuS(), System.nanoTime())
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, processCpuS() - cpu0)
  }

  def run(spark: SparkSession, w: Workload, seconds: Int, trace: Boolean): RunOutput = {
    val tRun = System.nanoTime()
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    def account(legs: Seq[Leg]): Boolean = {
      attempted += legs.size
      failed += legs.count(!_.ok)
      notes ++= legs.filter(!_.ok).map(l => s"${l.name} failed: ${l.error}")
      legs.forall(_.ok)
    }
    // set-up: the median corpus write plus the oracles, in core-seconds
    val writes = (1 to w.setups).map(k => measured(w.setUp(k)))
    val (_, prepWall, prepCore) = measured(w.prepare())
    val setupCore = median(writes.map(_._3)) + prepCore
    notes += "setups=" + writes.map { case (_, wl, c) => f"$wl%.3fs/$c%.3fcore-s" }.mkString(",") +
      f" oracles=$prepWall%.3fs/$prepCore%.3fcore-s"
    val batch = w.batch(0, None)

    val (metrics, spanDump) =
      if (!account(Seq(batch))) (Nil, Nil)
      else if (!trace) {
        val cycles = scala.collection.mutable.ArrayBuffer.empty[CycleResult]
        val t0 = System.nanoTime()
        // as many cycles as fit in `seconds` (at least one); a failed leg ends
        // the run, since the state it leaves is not trusted
        while ((cycles.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) &&
            cycles.forall(_.legs.forall(_.ok))) {
          val c = w.cycle(cycles.size, None)
          account(c.legs)
          cycles += c
        }
        notes += s"${batch.describe}; cycles: " + cycles.map(_.describe).mkString("; ")
        val good = cycles.filter(_.legs.forall(_.ok)).toSeq
        def coreS(leg: String) = median(good.map(_.legs.find(_.name == leg).get.coreS))
        val m =
          if (good.isEmpty) Nil
          else Seq(
            ("setup_s", setupCore, "s"),
            ("batch_pages_per_core_s", w.baseRows / batch.coreS, "pages/core-s"),
            ("pairwise_f1", median(good.map(_.f1)), "ratio"),
            ("state_bytes_per_page", median(good.map(_.stateBytesPerPage)), "bytes/page"),
            ("attach_core_s", coreS("attach"), "core-s"),
            ("commit_core_s", coreS("commit"), "core-s"),
            ("detach_core_s", coreS("detach"), "core-s"))
        (m, Nil)
      } else {
        // one untraced cycle warms the attach/detach code up (the oracles
        // already ran the batch's); the batch then runs as the traced run
        // composes it, first without the listener (spans go to a discarded
        // tracer), then with it, and a cycle runs with the listener and spans
        val warm = w.cycle(0, None)
        val plainBatch = w.batch(1, Some(new Tracer()))
        val listener = BenchListener.install(spark)
        val tracer = new Tracer()
        val tracedBatch = w.batch(2, Some(tracer))
        val traced = w.cycle(1, Some(tracer))
        val ok = Seq(warm.legs, Seq(plainBatch, tracedBatch), traced.legs)
          .map(account).forall(identity)
        val extra = if (ok) w.traceExtras(tracer) else Map.empty[String, Double]
        BenchListener.drain(spark)
        spark.sparkContext.removeSparkListener(listener)
        val spans = tracer.spans
        val counters = Trace.aggregate(spans, listener.tasks, listener.jobStartsMs, listener.execs)
        val bySpan = spans.map(s => s.name -> counters(s.id)).toMap
        // the same composition back to back, with and without the listener
        val overhead = tracedBatch.wallS - plainBatch.wallS
        notes += s"plain: ${batch.describe} ${warm.describe} ${plainBatch.describe}; " +
          s"traced: ${tracedBatch.describe} ${traced.describe}"
        val m =
          if (!ok) Nil
          else Layers.perLayer.map { case (name, unit) =>
            val v = extra.get(name)
              .orElse(Layers.spanCounter(name).map { case (span, counter) =>
                bySpan.get(span).map(_.get(counter)).getOrElse(0.0) })
              .getOrElse(if (name == Layers.Overhead) overhead else 0.0)
            (name, v, unit)
          }
        (m, spans.map { s =>
          Json.obj(Seq("name" -> Json.str(s.name),
            "parent" -> s.parent.map(p => Json.str(spans(p).name)).getOrElse("null")) ++
            Layers.counterNames.map(k => k -> Json.num(counters(s.id).get(k))))
        })
      }
    notes += f"run=${(System.nanoTime() - tRun) / 1e9}%.3f"
    val correct = failed == 0 && metrics.nonEmpty &&
      metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val result = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    RunOutput(result, notes.toSeq, spanDump)
  }
}
