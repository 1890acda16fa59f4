package erbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Partitioning, Pipeline, PipelineConfig}
import graft.functions.{context_cosine, jaro_winkler, lev_ratio, token_jaccard}
import graft.gen.{GoldGen, Synth, SynthParams}
import graft.ops.{Blocking, Clustering, Dedup, Extract, Incremental, Metrics, Scoring}

/** Input sizes. The defaults fit BENCHMARK.json's run budget on a 4-core
  * host (each operation there is dominated by per-job coordination, not by
  * rows); tests pass tiny ones. */
final case class Sizes(erPages: Int, dedupDocs: Int) {
  def describe(workload: String): String = workload match {
    case "er_delta" => s"pages=$erPages entities=${erPages / 25} delta=${Workloads.DeltaPct}%"
    case _ => s"docs=$dedupDocs delta=${Workloads.DeltaPct}%"
  }
}

object Sizes {
  val default = Sizes(erPages = 2000, dedupDocs = 6000)
}

/** One timed call: its wall and the CPU time the whole JVM spent meanwhile
  * (core-seconds). A leg whose call threw or whose output failed its check
  * is not ok, and its times are never reported. */
final case class Leg(name: String, wallS: Double, coreS: Double, ok: Boolean,
    error: String = "") {
  def describe: String = f"$name=$wallS%.3fs/$coreS%.3fcore-s${if (ok) "" else "!"}"
}

/** One attach -> commit -> detach cycle: its legs, the committed state's
  * bytes per input row and the committed output's pairwise F1. */
final case class CycleResult(legs: Seq[Leg], stateBytesPerPage: Double, f1: Double) {
  def describe: String =
    legs.map(_.describe).mkString(" ") + f" bytes/page=$stateBytesPerPage%.1f f1=$f1%.5f"
}

/** A workload over a corpus generated from `seed` under `dir`:
  *  - set-up writes the corpus as parquet, the input a deployment reads;
  *  - `prepare` computes the oracles once: a from-scratch run over the
  *    whole corpus (what attach must equal) and any quality truth;
  *  - `batch` builds the committed base from scratch over the non-delta
  *    slice (timed; detach must give back its output);
  *  - `cycle` attaches the delta to that base, commits the result to a
  *    fresh directory and detaches the delta from the commit (each leg
  *    timed). The base is never modified, so every cycle does the same work. */
abstract class Workload(val spark: SparkSession, val seed: Long, val dir: String) {
  protected type Hash = (Long, java.math.BigDecimal)

  /** How many times the corpus is written; setup_s counts the median one. */
  val setups = 5
  def setUp(k: Int): Unit
  def prepare(): Unit
  /** Input rows the batch builds the base from. */
  def baseRows: Long
  /** Batch `i`: build the committed base; later cycles attach to it. */
  def batch(i: Int, tracer: Option[Tracer]): Leg
  /** Cycle `i`; under a tracer each call into a layer runs inside a span. */
  def cycle(i: Int, tracer: Option[Tracer]): CycleResult
  /** After a traced batch and cycle: per-layer values that are not span
    * counters. */
  def traceExtras(tracer: Tracer): Map[String, Double]

  /** Run one timed call; `check` inspects its result outside the timing. */
  protected def leg[T](name: String, tracer: Option[Tracer])(body: => T)(
      check: T => Option[String]): (Option[T], Leg) =
    try {
      val (r, wall, cpu) = Runner.measured(tracer.fold(body)(_.span(name)(body)))
      val err = check(r)
      (Some(r), Leg(name, wall, cpu, err.isEmpty, err.getOrElse("")))
    } catch {
      case e: Exception =>
        (None, Leg(name, 0.0, 0.0, ok = false, s"${e.getClass.getName}: ${e.getMessage}"))
    }

  protected def mismatch(what: String, got: Hash, want: Hash): Option[String] =
    if (got == want) None else Some(s"$what hash $got differs from the oracle's $want")

  /** The first batch's output hash is the base's; a later batch (the traced
    * one) must reproduce it. */
  private var firstBase: Option[Hash] = None
  protected def checkBase(h: Hash): Option[String] = firstBase match {
    case None => firstBase = Some(h); None
    case Some(want) => mismatch("rebuilt base", h, want)
  }
  protected def baseHash: Hash = firstBase.get
}

object Workloads {
  val names: Seq[String] = Seq("er_delta", "dedup_delta")

  /** Share of urls (ER) or documents (near-dup) in the delta slice, in %. */
  val DeltaPct = 2

  def apply(name: String, spark: SparkSession, seed: Long, dir: String,
      sizes: Sizes): Workload = name match {
    case "er_delta" => new ErDelta(spark, seed, dir, sizes.erPages)
    case "dedup_delta" => new DedupDelta(spark, seed, dir, sizes.dedupDocs)
  }

  /** The engine's own data-scaled partition policy, as graft.Main applies it. */
  def shufflePartitions(name: String, sizes: Sizes, cores: Int): Int =
    Partitioning.shufflePartitions(cores,
      if (name == "er_delta") sizes.erPages.toLong else sizes.dedupDocs.toLong)

  /** Order-independent content hash: row count and the sum of per-row
    * xxhash64 values (as decimal, so the sum cannot overflow). */
  def contentHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.sorted.map(col).toSeq: _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Bytes of the files under `path` (checksum files excluded). */
  def dirBytes(path: String): Long = {
    val p = new File(path).toPath
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.endsWith(".crc")).map(f => Files.size(f)).sum
      finally s.close()
    }
  }

  def rmrf(path: String): Unit = {
    val p = new File(path).toPath
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach((f: Path) => Files.delete(f))
      finally s.close()
    }
  }

  /** The delta slice: pmod(xxhash64(key), 100) < DeltaPct. */
  def inDelta(key: String): org.apache.spark.sql.Column =
    pmod(xxhash64(col(key)), lit(100)) < DeltaPct
}

import Workloads._

/** ER: Pipeline.run builds the base over the non-delta urls, then the delta
  * urls attach -> commit -> detach against it (Incremental). */
final class ErDelta(spark: SparkSession, seed: Long, dir: String, nPages: Int)
    extends Workload(spark, seed, dir) {
  private val p = SynthParams(nPages = nPages, nEntities = nPages / 25, seed = seed)
  private val stages = Seq("s0_pages", "s1_mentions", "s2_blocks", "s2_overflow",
    "s3_pairs", "s4_scored", "s5_clusters")
  private var all: DataFrame = _
  private var dict: DataFrame = _
  private var rows = 0L
  private var base: DataFrame = _
  private var delta: DataFrame = _
  private var deltaUrls: DataFrame = _
  private var gold: DataFrame = _
  private var fullHash: Hash = _
  private var baseDir: String = _
  private var lastBatch: (graft.PipelineResult, PipelineConfig) = _
  private var lastAttach: Incremental.AttachResult = _
  private var lastCommit: String = _

  /** Defaults, with the overflow rows kept so every committed state is a
    * valid attach base, and the LSH seed equal to the data seed: GoldGen
    * labels the candidate pairs blocking with the data seed produces. */
  private def config(ckpt: String) = PipelineConfig(checkpointDir = ckpt,
    runId = new File(ckpt).getName, keepBlockOverflow = true, seed = seed)

  def setUp(k: Int): Unit = {
    val input = s"$dir/pages-$k"
    Synth.pages(spark, p).toDF().write.parquet(input)
    all = spark.read.parquet(input)
  }

  def prepare(): Unit = {
    dict = Synth.dict(spark, p).toDF()
    base = all.filter(!inDelta("url"))
    delta = all.filter(inDelta("url"))
    rows = base.count()
    // the two oracles are untimed and independent: overlap them
    val goldF = Future(GoldGen.goldPairs(spark, p).localCheckpoint(eager = true))(ExecutionContext.global)
    fullHash = contentHash(Pipeline.run(spark, all, dict, config(s"$dir/reference")).clusters)
    deltaUrls = Extract.canonicalized(delta).select("url").distinct()
      .localCheckpoint(eager = true)
    gold = Await.result(goldF, Duration.Inf)
  }

  def baseRows: Long = rows

  def batch(i: Int, tracer: Option[Tracer]): Leg = {
    val cfg = config(s"$dir/base-$i")
    val (res, l) = leg("batch", tracer) {
      val r = tracer.fold(Pipeline.run(spark, base, dict, cfg))(tracedRun(_, cfg))
      r.clusters.select("cluster_id").distinct().count()
      r
    }(r => checkBase(contentHash(r.clusters)))
    res.foreach { r => lastBatch = (r, cfg); baseDir = cfg.checkpointDir }
    l
  }

  def cycle(i: Int, tracer: Option[Tracer]): CycleResult = {
    val cfg = config(baseDir)
    val commitDir = s"$dir/commit-$i"
    val state = Incremental.stateFromCheckpoint(spark, baseDir)
    val (att, la) = leg("attach", tracer) {
      val r = Incremental.attach(spark, state, delta, dict, cfg)
      r.clusters.select("cluster_id").distinct().count()
      r
    }(r => mismatch("attach clusters", contentHash(r.clusters), fullHash))
    if (!la.ok) return CycleResult(Seq(la), Double.NaN, Double.NaN)
    val (_, lc) = leg("commit", tracer)(Incremental.commitAsBase(att.get, commitDir))(_ => None)
    if (!lc.ok) return CycleResult(Seq(la, lc), Double.NaN, Double.NaN)
    val committed = Incremental.stateFromCheckpoint(spark, commitDir)
    val (_, ld) = leg("detach", tracer) {
      val r = Incremental.detach(spark, committed, deltaUrls, dict, cfg)
      r.clusters.select("cluster_id").distinct().count()
      r
    }(r => mismatch("detach clusters", contentHash(r.clusters), baseHash))
    val f1 = Metrics.pairwiseF1(committed.scored, gold).filter(col("split") === "test")
      .select("f1").head().getDouble(0)
    val bytes = stages.map(s => dirBytes(s"$commitDir/$s")).sum.toDouble / all.count()
    if (lastCommit != null) rmrf(lastCommit)
    lastAttach = att.get
    lastCommit = commitDir
    // the committed output is what a user reads: it must meet the F1 gate
    val gate = if (f1 >= 0.99) ld else ld.copy(ok = false, error = s"pairwise F1 $f1 < 0.99")
    CycleResult(Seq(la, lc, gate), bytes, f1)
  }

  /** Pipeline.run's stage sequence, composed from the same public calls with
    * one span per Pipeline.stage. Pipeline.stage's standalone form writes
    * each stage's lineage row synchronously, where run() overlaps them. */
  private def tracedRun(t: Tracer, cfg: PipelineConfig): graft.PipelineResult = {
    def stage(span: String, name: String)(body: => DataFrame) =
      t.span(span)(Pipeline.stage(spark, cfg, name)(body))
    val s0 = stage("s0", "s0_pages") {
      Extract.withInvariant(Extract.latestSnapshot(Extract.canonicalized(base)))
    }
    val s1 = stage("s1", "s1_mentions")(Extract.mentions(s0, cfg.ctxWindow))
    val s2 = t.span("s2") {
      var release: () => Unit = () => ()
      val b = Pipeline.stage(spark, cfg, "s2_blocks") {
        val (blocks, rel) = Blocking.blocksManaged(s1, dict, cfg.maxBlock, cfg.seed)
        release = rel
        blocks
      }
      Pipeline.stage(spark, cfg, "s2_overflow") {
        Blocking.capBlocksOverflow(Blocking.allBlocks(s1, dict, cfg.seed), cfg.maxBlock)
      }
      release()
      b
    }
    val s3 = stage("s3", "s3_pairs")(
      Blocking.pairsFromBlocks(s2, cfg.saltThreshold, cfg.nSalts))
    val s4 = stage("s4", "s4_scored")(Scoring.score(s3, s1, cfg.weights,
      cfg.embedDim, cfg.seed, broadcastMentions = broadcastMentions(s1, cfg)))
    val s5 = stage("s5", "s5_clusters") {
      Clustering.clusters(spark, s4,
        s0.filter(col("lang") === "en" && col("invariant_ok")), None,
        partitions = Some(Partitioning.ccPartitions(
          spark.sparkContext.defaultParallelism, s0.count())))
    }
    graft.PipelineResult(s0, s1, s3, s4, s5)
  }

  /** Pipeline.run's byte-based hydration choice. */
  private def broadcastMentions(mentions: DataFrame, cfg: PipelineConfig): Boolean = {
    def oct(c: String) = coalesce(octet_length(col(c)).cast("long"), lit(0L))
    val bytes = mentions.agg(coalesce(sum(oct("surface") + oct("ctx") + oct("url") +
      lit(24L)), lit(0L))).head().getLong(0)
    cfg.broadcastMentions.getOrElse(bytes <= cfg.resolvedBroadcastMentionsMaxBytes)
  }

  /** The per-feature s4 split over the last batch's materialized hydrated
    * pairs, the blocking/scoring ratios, and the last attach's locality
    * (its intermediates are plan-cut, so counting them re-reads
    * materialized rows only). */
  def traceExtras(t: Tracer): Map[String, Double] = {
    val (b, cfg) = lastBatch
    val hydrated = t.span("s4.hydrate") {
      Scoring.hydrate(b.pairs, b.mentions, broadcastMentions(b.mentions, cfg))
        .localCheckpoint(eager = true)
    }
    Seq(
      "jw" -> jaro_winkler(col("surface_a"), col("surface_b")),
      "lev" -> lev_ratio(col("surface_a"), col("surface_b")),
      "jac" -> token_jaccard(col("surface_a"), col("surface_b")),
      "cos" -> context_cosine(col("ctx_a"), col("ctx_b"), cfg.embedDim, cfg.seed)
    ).foreach { case (k, feature) =>
      t.span(s"s4.kernel.$k") {
        hydrated.select(feature.as(k)).write.format("noop").mode("overwrite").save()
      }
    }
    val pairs = b.pairs.count().toDouble
    val rescored = lastAttach.rescored.count().toDouble
    Map(
      "s3.pairs_per_page" -> pairs / rows,
      "s4.match_yield" -> b.scored.filter(col("is_match")).count() / pairs,
      "s2.capped_drop" -> Blocking.cappedDropCount(
        spark.read.parquet(s"${cfg.checkpointDir}/s2_blocks"), cfg.maxBlock).toDouble,
      "attach.dirty_urls" -> lastAttach.dirtyUrls.count().toDouble,
      "attach.touched_blocks" -> lastAttach.touchedKeys.count().toDouble,
      "attach.rescored_pairs" -> rescored,
      "attach.rescored_ratio" -> rescored / spark.read.parquet(s"$lastCommit/s4_scored").count(),
      "attach.changed_edges" -> lastAttach.changedEdges.count().toDouble,
      "attach.dissolved_labels" -> lastAttach.affectedLabels.count().toDouble)
  }
}

/** Near-dup: Dedup.minhashDedupState builds and commits the state over the
  * non-delta documents, then the delta documents attach -> commit -> detach
  * against it (DeltaDedup). Documents are the page snapshots of the
  * synthetic crawl (as tools/DedupIncrAB builds them); re-crawled urls plant
  * exact duplicate snapshots, the truth the F1 is scored against. */
final class DedupDelta(spark: SparkSession, seed: Long, dir: String, nDocs: Int)
    extends Workload(spark, seed, dir) {
  private val p = SynthParams(nPages = nDocs, nEntities = math.max(200, nDocs / 25), seed = seed)
  private var all: DataFrame = _
  private var rows = 0L
  private var base: DataFrame = _
  private var delta: DataFrame = _
  private var deltaIds: DataFrame = _
  private var fullHash: Hash = _
  private var baseDir: String = _
  private var lastAttach: (Dedup.DedupAttachResult, Long) = _
  private var lastCommit: String = _

  def setUp(k: Int): Unit = {
    val input = s"$dir/docs-$k"
    // doc_id: 63-bit hash of (url, warc_ts), non-negative so the CC keys'
    // zero-padded string order equals numeric order
    Synth.pages(spark, p).toDF()
      .select(xxhash64(col("url"), col("warc_ts")).bitwiseAND(lit(Long.MaxValue)).as("doc_id"),
        col("url"), col("text"))
      .write.parquet(input)
    all = spark.read.parquet(input)
  }

  def prepare(): Unit = {
    base = all.filter(!inDelta("doc_id"))
    delta = all.filter(inDelta("doc_id"))
    rows = base.count()
    fullHash = contentHash(Dedup.minhashNearDup(spark, all))
    deltaIds = delta.select("doc_id").localCheckpoint(eager = true)
  }

  def baseRows: Long = rows

  private def dupsOf(assign: DataFrame) = assign.filter(col("url") =!= col("cluster_id"))
    .select(col("url").cast("long").as("doc_id"), col("cluster_id").cast("long").as("dup_of"))

  /** Pairwise F1 of the dup clusters against same-url snapshot groups,
    * counting every pair of documents either side puts together. */
  private def truthF1(dups: DataFrame): Double = {
    val labeled = all.join(dups, Seq("doc_id"), "left")
      .select(col("url"), coalesce(col("dup_of"), col("doc_id")).as("c"))
    def pairs(keys: String*) = labeled.groupBy(keys.map(col): _*).count()
      .agg(coalesce(sum(col("count") * (col("count") - 1)), lit(0L))).head().getLong(0) / 2
    val (pred, truth, tp) = (pairs("c"), pairs("url"), pairs("c", "url"))
    if (pred + truth == 0) 1.0 else 2.0 * tp / (pred + truth)
  }

  def batch(i: Int, tracer: Option[Tracer]): Leg = {
    val state = s"$dir/base-$i"
    val (_, l) = leg("batch", tracer) {
      Dedup.commitDedupState(Dedup.minhashDedupState(spark, base), state)
    }(_ => checkBase(contentHash(dupsOf(spark.read.parquet(s"$state/assign")))))
    if (l.ok) baseDir = state
    l
  }

  def cycle(i: Int, tracer: Option[Tracer]): CycleResult = {
    val commitDir = s"$dir/commit-$i"
    val state = Dedup.dedupStateFromDir(spark, baseDir)
    val (att, la) = leg("attach", tracer) {
      val r = Dedup.minhashNearDupAttach(spark, state, all, delta)
      r.dups.count()
      r
    }(r => mismatch("attach dups", contentHash(r.dups), fullHash))
    if (!la.ok) return CycleResult(Seq(la), Double.NaN, Double.NaN)
    val (_, lc) = leg("commit", tracer)(Dedup.commitDedupState(att.get.state, commitDir))(_ => None)
    if (!lc.ok) return CycleResult(Seq(la, lc), Double.NaN, Double.NaN)
    val committed = Dedup.dedupStateFromDir(spark, commitDir)
    val (_, ld) = leg("detach", tracer) {
      val r = Dedup.minhashNearDupDetach(spark, committed, base, deltaIds)
      r.dups.count()
      r
    }(r => mismatch("detach dups", contentHash(r.dups), baseHash))
    val f1 = truthF1(dupsOf(committed.assign))
    val bytes = dirBytes(commitDir).toDouble / all.count()
    if (lastCommit != null) rmrf(lastCommit)
    lastAttach = (att.get, state.edges.count())
    lastCommit = commitDir
    CycleResult(Seq(la, lc, ld), bytes, f1)
  }

  def traceExtras(t: Tracer): Map[String, Double] = {
    val (res, baseEdges) = lastAttach
    val removed = res.removed.count()
    Map(
      "attach.added_edges" -> (res.state.edges.count() - baseEdges + removed).toDouble,
      "attach.removed_edges" -> removed.toDouble,
      "attach.dups" -> res.dups.count().toDouble)
  }
}

/** The per-layer metric names BENCHMARK.json lists, and where each comes from. */
object Layers {
  val Overhead = "trace.overhead_s"

  val counterNames: Seq[String] = Seq("wall_s", "self_s", "task_s", "idle_s", "jobs",
    "rows_out", "input_bytes", "shuffle_write_bytes", "spill_bytes", "bytes_written",
    "bhj", "smj", "broadcast_bytes")

  private def unitOf(counter: String): String = counter match {
    case c if c.endsWith("_s") => "s"
    case c if c.endsWith("bytes") || c == "bytes_written" => "bytes"
    case "rows_out" => "rows"
    case _ => "count"
  }

  private val stageCounters = Seq("wall_s", "task_s", "idle_s", "rows_out",
    "shuffle_write_bytes", "bytes_written", "bhj", "smj")
  private val legCounters = Seq("wall_s", "task_s", "idle_s", "jobs", "input_bytes",
    "shuffle_write_bytes", "bhj", "smj", "broadcast_bytes")
  private val commitCounters = Seq("wall_s", "task_s", "input_bytes", "bytes_written")

  /** (metric name, span, counter) for every span-counter metric. */
  private val spanMetrics: Seq[(String, String, String)] =
    (0 to 5).flatMap(s => stageCounters.map(c => (s"s$s.$c", s"s$s", c))) ++
      (Seq("s4.hydrate") ++ Seq("jw", "lev", "jac", "cos").map(k => s"s4.kernel.$k"))
        .map(s => (s"$s.task_s", s, "task_s")) ++
      Seq(("s5.jobs", "s5", "jobs")) ++
      Seq("attach", "detach").flatMap(s => legCounters.map(c => (s"$s.$c", s, c))) ++
      commitCounters.map(c => (s"commit.$c", "commit", c))

  private val extras: Seq[(String, String)] = Seq(
    "s3.pairs_per_page" -> "pairs/page", "s4.match_yield" -> "ratio",
    "s2.capped_drop" -> "mentions",
    "attach.dirty_urls" -> "urls", "attach.touched_blocks" -> "blocks",
    "attach.rescored_pairs" -> "pairs", "attach.rescored_ratio" -> "ratio",
    "attach.changed_edges" -> "edges", "attach.dissolved_labels" -> "labels",
    "attach.added_edges" -> "edges", "attach.removed_edges" -> "edges",
    "attach.dups" -> "docs",
    Overhead -> "s")

  /** Every per-layer metric with its unit. A workload reports 0 for layers it
    * never calls (no span, no work). */
  val perLayer: Seq[(String, String)] =
    spanMetrics.map { case (n, _, c) => n -> unitOf(c) } ++ extras

  def spanCounter(name: String): Option[(String, String)] =
    spanMetrics.collectFirst { case (n, s, c) if n == name => (s, c) }
}
