package graft.ops

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftshim.CutLeaf

/** The one way the delta paths materialize, plan-cut and overlap an
  * intermediate.
  *
  * `keep` is an eager local checkpoint, not persist(): it cuts the LOGICAL
  * plan to a leaf, so an algebra that references its intermediates many
  * times keeps a flat plan (with persist() analysis time doubled per stage,
  * then the driver's analyzer ran out of memory at 800 fixture pages). The
  * leaf carries EXACT statistics — the row count an observe() collects in
  * the same job, and the bytes its checkpoint blocks occupy — so the planner
  * broadcasts a small kept frame by itself, and shuffles one past the
  * threshold (`withBroadcastCap`), with no hand-placed hint and no extra job.
  * Each cut logs one INFO line (name, wall ms, rows, bytes) on the
  * `graft.ops.Cut` logger; with GRAFT_EXPLAIN_DIR set it also writes its
  * formatted physical plan to <dir>/<name>.txt (the plans/ dumps).
  */
object Cut extends Logging {

  val BroadcastThreshold = "spark.sql.autoBroadcastJoinThreshold"

  /** min(2 GiB, driver heap / 10): a broadcast build is driver-serial, and
    * the driver also holds the CC loop's bookkeeping. */
  def defaultBroadcastCap: Long =
    math.min(2L * 1024 * 1024 * 1024, Runtime.getRuntime.maxMemory / 10)

  def keep(name: String)(df: DataFrame): DataFrame = {
    sys.env.get("GRAFT_EXPLAIN_DIR").foreach { dir =>
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$name.txt"),
        df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    val t0 = System.nanoTime()
    val observed = df.observe("graft_cut_rows", count(lit(1)))
    val cut = observed.localCheckpoint(eager = true)
    val rows = observed.queryExecution.observedMetrics("graft_cut_rows").getLong(0)
    val leaf = CutLeaf.withExactStats(cut, rows)
    logInfo(f"cut $name%-24s ${(System.nanoTime() - t0) / 1e6}%8.0f ms " +
      s"rows=$rows bytes=${bytes(leaf)}")
    leaf
  }

  /** Recorded byte size of a kept frame. */
  def bytes(kept: DataFrame): BigInt =
    kept.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Shared daemon pool: Spark runs jobs submitted from several threads side
    * by side, so independent cuts overlap instead of serializing. */
  private lazy val pool = ExecutionContext.fromExecutor(
    Executors.newFixedThreadPool(3, r => {
      val t = new Thread(r, "graft-cut")
      t.setDaemon(true)
      t
    }))

  /** `keep` on the shared pool; a failure names the leg. */
  def keepAsync(name: String)(df: DataFrame): Future[DataFrame] =
    Future {
      try keep(name)(df)
      catch { case NonFatal(e) => throw new IllegalStateException(s"cut $name failed", e) }
    }(pool)

  def await(f: Future[DataFrame]): DataFrame = Await.result(f, Duration.Inf)

  /** Run `body` with the given session confs, restoring the previous values. */
  def withConf[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `body` with the size-based broadcast threshold at `cap` bytes
    * (<= 0: none). Only what is PLANNED inside sees it: views returned
    * lazily are planned later by the caller. `Scope.outside` runs a step at
    * the enclosing threshold. */
  def withBroadcastCap[T](spark: SparkSession, cap: Long)(body: Scope => T): T = {
    val scope = new Scope(spark, spark.conf.get(BroadcastThreshold))
    withConf(spark, BroadcastThreshold -> (if (cap > 0) cap.toString else "-1"))(body(scope))
  }

  final class Scope private[Cut] (spark: SparkSession, outer: String) {
    def outside[T](body: => T): T = withConf(spark, BroadcastThreshold -> outer)(body)
  }
}
