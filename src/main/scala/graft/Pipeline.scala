package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Blocking, Clustering, Extract, Metrics, Scoring, Training}

/** End-to-end ER pipeline with per-stage parquet checkpoints, resume, and
  * lineage metrics.
  *
  * Reference analogue: `main_scripts/run_main_steps.py` chains four Python
  * subprocesses exchanging pickle files (:39-52); each pickle handoff becomes
  * a committed parquet stage checkpoint here, and its load-if-exists caches
  * (`main_scripts/sent_bert_emb_viz_util.py:406-416`) become resume-from-
  * snapshot semantics (SURVEY.md S5, §4.1): a stage whose checkpoint has a
  * _SUCCESS marker is read back, not recomputed.
  *
  * No Iceberg jars ship in this sandbox (SURVEY.md §7.4), so the commit
  * protocol is parquet-directory + _SUCCESS (Spark's atomic job commit); the
  * writer is confined to this object so an Iceberg catalog can be slotted in.
  */
case class PipelineConfig(
    checkpointDir: String,
    resume: Boolean = true,
    maxBlock: Int = 1024,
    saltThreshold: Int = 64,
    nSalts: Int = 16,
    weights: Scoring.Weights = Scoring.Weights(),
    embedDim: Int = 256,
    ctxWindow: Int = 4,
    seed: Long = 42L,
    runId: String = "run",
    /** When true, every CC lineage cut commits to parquet under <ckpt>/cc/ so
      * a crash mid-clustering resumes inside the loop; when false (default),
      * cuts use localCheckpoint and only the final clusters table is durable.
      * At 10^12-doc scale set true; at bench scale the per-cut parquet
      * round-trips dominate CC wall time. */
    ccDurableIterations: Boolean = false,
    /** Scoring hydration join strategy: Some(true)/Some(false) force
      * broadcast/shuffle of the mentions projection; None (default) decides
      * by row count — broadcast while the projection is driver-safe, shuffle
      * NARROW pair rows beyond that (ops/Scoring.scala hydrate doc). */
    broadcastMentions: Option[Boolean] = None,
    /** When true, insert a model-fit stage between pair generation and
      * scoring: in-engine weak-supervision training (Training.fit) on the
      * featured pairs, committed as a one-row parquet model artifact under
      * <ckpt>/s35_model — the reference's pickle-the-classifier handoff
      * (step3.4 save → step9 reload) as a resumable stage. Requires
      * Pipeline.run's fitGold. The fitted weights replace cfg.weights. */
    fitWeights: Boolean = false,
    /** When true, also commit stage s2_overflow: the rank>cap remainder of
      * hot blocks (Blocking.capBlocksOverflow — the skew tail a batch run
      * drops). Required for EXACT incremental attach (ops/Incremental):
      * when a snapshot update removes mentions from a hot block, previously
      * capped-out members re-enter the deterministic top-cap, and only the
      * overflow rows can reproduce that. Costs `cappedDropCount` rows of
      * storage, nothing at batch query time. */
    keepBlockOverflow: Boolean = false,
    /** Auto-switch threshold for broadcastMentions=None: broadcast the
      * mentions projection iff its estimated in-memory size — Σ(|surface| +
      * |ctx| + |url|) + per-row overhead, one cheap scan of the committed s1
      * checkpoint — is at most this. Sized by BYTES, not rows: the projection
      * carries ctx strings whose width varies 100x with ctxWindow, and a
      * row-count gate could sail past Spark's 8 GiB broadcast-table hard
      * limit (and driver memory) on wide contexts. Default -1 = the
      * heap-derived Cut.defaultBroadcastCap: the broadcast build is the
      * pipeline's one driver-serial term (measured ~506s at 9.6M pages on a
      * 7.75M-row projection), so a fixed 2 GiB cap was generous for small
      * drivers (round-4 advice). Incremental.attach also plans its whole
      * algebra under this cap (Cut.withBroadcastCap). */
    broadcastMentionsMaxBytes: Long = -1L) {

  /** Resolved broadcast cap: explicit positive value, or the heap-derived
    * default. */
  def resolvedBroadcastMentionsMaxBytes: Long =
    if (broadcastMentionsMaxBytes >= 0) broadcastMentionsMaxBytes
    else graft.ops.Cut.defaultBroadcastCap
}

case class PipelineResult(
    pages: DataFrame,
    mentions: DataFrame,
    pairs: DataFrame,
    scored: DataFrame,
    clusters: DataFrame,
    /** Per-document taxonomy rollup (url, entities, ...) — present when the
      * run was given taxonomy hop dimensions. */
    docRollup: Option[DataFrame] = None)

object Pipeline {

  private def stagePath(cfg: PipelineConfig, stage: String) =
    s"${cfg.checkpointDir}/$stage"

  private def committed(path: String): Boolean =
    Files.exists(Paths.get(path, "_SUCCESS"))

  /** Single-thread executor for lineage-metrics appends: metrics jobs run off
    * the critical path (the next stage starts while metrics commit), but
    * strictly one at a time — concurrent appends to one parquet directory
    * would race in the shared _temporary commit dir. */
  private lazy val metricsEc: ExecutionContext =
    ExecutionContext.fromExecutor(Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "graft-metrics-writer")
      t.setDaemon(true)
      t
    })

  /** Run one stage: resume from the last committed snapshot if present,
    * otherwise compute, commit, and append lineage metrics (asynchronously —
    * pass the returned future list to awaitMetrics, or use run(), which
    * awaits before returning). */
  def stage(spark: SparkSession, cfg: PipelineConfig, name: String,
      pending: scala.collection.mutable.Buffer[Future[Unit]] = null)
      (compute: => DataFrame): DataFrame = {
    val path = stagePath(cfg, name)
    if (cfg.resume && committed(path)) {
      spark.read.parquet(path)
    } else {
      val t0 = System.nanoTime()
      compute.write.mode("overwrite").parquet(path)
      val out = spark.read.parquet(path)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val write = Future {
        Metrics.stageMetrics(out, cfg.runId, name, wallMs)
          .write.mode("append").parquet(s"${cfg.checkpointDir}/metrics")
      }(metricsEc)
      if (pending != null) pending += write
      else Await.result(write, Duration.Inf) // standalone call: synchronous
      out
    }
  }

  /** Full pipeline: pages -> clusters. Every stage checkpoints; a rerun with
    * resume=true picks up after the last committed stage (north_rule). */
  def run(spark: SparkSession, pagesIn: DataFrame, dict: DataFrame,
      cfg: PipelineConfig,
      taxonomyHops: Seq[(DataFrame, String)] = Nil,
      /** (url_a, url_b, gold) validation pairs for the fit stage's threshold
        * sweep — required when cfg.fitWeights. */
      fitGold: Option[DataFrame] = None): PipelineResult = {
    val pending = scala.collection.mutable.Buffer.empty[Future[Unit]]

    val pages = stage(spark, cfg, "s0_pages", pending) {
      Extract.withInvariant(Extract.latestSnapshot(Extract.canonicalized(pagesIn)))
    }

    val mentions = stage(spark, cfg, "s1_mentions", pending) {
      Extract.mentions(pages, cfg.ctxWindow)
    }

    // blocks are materialized as their own checkpoint: the pair self-join
    // reads them multiple times, and a resumed run skips re-blocking. The
    // uncapped-block cache backing capBlocks' three consumers is released as
    // soon as the checkpoint is written (cleanup passed through the stage).
    val s2Resumed = cfg.resume && committed(stagePath(cfg, "s2_blocks"))
    var releaseBlocks: () => Unit = () => ()
    val blocks = stage(spark, cfg, "s2_blocks", pending) {
      val (b, release) = Blocking.blocksManaged(mentions, dict, cfg.maxBlock, cfg.seed)
      releaseBlocks = release
      b
    }
    // overflow rows for exact incremental attach (cap re-entry): derived
    // from the same raw-blocks plan blocksManaged cached, so Spark's
    // cache-by-canonical-plan reuses the in-memory table — no second LSH
    // pass while the cache is alive (released just below)
    if (cfg.keepBlockOverflow) {
      stage(spark, cfg, "s2_overflow", pending) {
        Blocking.capBlocksOverflow(
          Blocking.allBlocks(mentions, dict, cfg.seed), cfg.maxBlock)
      }
      ()
    }
    releaseBlocks()
    // no silent truncation: mentions dropped by the per-block rank cap go
    // into the lineage/metrics table (block_size in the checkpoint is the
    // true pre-cap size, so this is one cheap agg over the checkpoint)
    if (!s2Resumed) {
      val dropped = Blocking.cappedDropCount(blocks, cfg.maxBlock)
      val write = Future {
        Metrics.countMetric(spark, cfg.runId, "s2_blocks",
            "dropped_mentions", dropped)
          .write.mode("append").parquet(s"${cfg.checkpointDir}/metrics")
      }(metricsEc)
      pending += write
    }

    val pairs = stage(spark, cfg, "s3_pairs", pending) {
      Blocking.pairsFromBlocks(blocks, cfg.saltThreshold, cfg.nSalts)
    }

    // byte-based auto: one cheap scan of the committed s1 checkpoint summing
    // the projection's string payload (+24B/row envelope); lazy so it is paid
    // only when a consuming stage (fit / scoring) actually recomputes.
    // octet_length (UTF-8 BYTES, not chars — multi-byte text undercounted
    // otherwise), each column coalesced to 0 so a null never erases the
    // row's other columns or its fixed overhead (round-3 advice).
    lazy val bcast = {
      val t0 = System.nanoTime()
      def oct(c: String) = coalesce(octet_length(col(c)).cast("long"), lit(0L))
      lazy val bytes = mentions.agg(coalesce(sum(
        oct("surface") + oct("ctx") + oct("url") + lit(24L)),
        lit(0L))).head().getLong(0)
      val choice = cfg.broadcastMentions.getOrElse(
        bytes <= cfg.resolvedBroadcastMentionsMaxBytes)
      // the hydration strategy + its estimated payload is lineage: the
      // broadcast build is the pipeline's one driver-serial term, so every
      // run records which path it took and how big the projection was
      // (counter rows: hydrate_broadcast=1/0 and hydrate_est_bytes)
      if (cfg.broadcastMentions.isEmpty) {
        val wallMs = (System.nanoTime() - t0) / 1000000L
        val write = Future {
          Metrics.countMetric(spark, cfg.runId, "s4_scored",
              "hydrate_broadcast", if (choice) 1L else 0L)
            .unionByName(Metrics.countMetric(spark, cfg.runId, "s4_scored",
              "hydrate_est_bytes", bytes))
            .withColumn("wall_ms", lit(wallMs))
            .write.mode("append").parquet(s"${cfg.checkpointDir}/metrics")
        }(metricsEc)
        pending += write
      }
      choice
    }

    // optional fit stage (SURVEY.md S8): train in-engine, commit the model as
    // a stage artifact, resume = reload instead of refit
    val weights: Scoring.Weights =
      if (!cfg.fitWeights) cfg.weights
      else {
        val wDf = stage(spark, cfg, "s35_model", pending) {
          val gold = fitGold.getOrElse(throw new IllegalArgumentException(
            "cfg.fitWeights=true requires fitGold (url_a, url_b, gold) pairs"))
          val featured = Scoring.withFeatures(
            Scoring.hydrate(pairs, mentions, bcast), cfg.embedDim, cfg.seed)
          Training.weightsToDf(spark, Training.fit(featured, mentions, gold))
        }
        Training.weightsFromDf(wDf)
      }

    val scored = stage(spark, cfg, "s4_scored", pending) {
      Scoring.score(pairs, mentions, weights, cfg.embedDim, cfg.seed,
        broadcastMentions = bcast)
    }

    val clusters = stage(spark, cfg, "s5_clusters", pending) {
      // CC partitions scale with data on a slow ramp (Partitioning doc):
      // pages.count() is a metadata-cheap read of the committed s0 parquet
      val ccParts = Partitioning.ccPartitions(
        spark.sparkContext.defaultParallelism, pages.count())
      Clustering.clusters(spark, scored,
        pages.filter(col("lang") === "en" && col("invariant_ok")),
        if (cfg.ccDurableIterations) Some(s"${cfg.checkpointDir}/cc") else None,
        partitions = Some(ccParts))
    }

    // per-document taxonomy rollup (reference step9 admission-level agg):
    // dictionary-linked entities chained through the hop dims, union-deduped
    val rollup = if (taxonomyHops.isEmpty) None else Some(
      stage(spark, cfg, "s6_doc_rollup", pending) {
        graft.ops.Taxonomy.rollupFromMentions(mentions, dict, taxonomyHops)
      })

    // all lineage metrics must be durable before the run is reported done
    // (resume correctness: a rerun's byte-identical-metrics check reads them)
    pending.foreach(Await.result(_, Duration.Inf))

    PipelineResult(pages, mentions, pairs, scored, clusters, rollup)
  }
}
