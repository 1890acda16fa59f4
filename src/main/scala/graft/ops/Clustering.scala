package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Transitive clustering: connected components over the match-edge graph via
  * iterative large-star / small-star (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SOCC'14 — public algorithm), expressed entirely
  * as DataFrame aggregations + joins.
  *
  * Reference analogue: the bounded-depth transitive mapping chains
  * UMLS→ORDO→ICD10→ICD9 (`main_scripts/rare_disease_id_util.py:278-322`) and
  * per-document union-dedup aggregation
  * (`main_scripts/step9_processing_all_documents.py:241-252`) generalized to
  * true transitive closure (SURVEY.md §2.11).
  *
  * Scale notes:
  *  - each iteration is groupBy(min) + join back — both hash-partitioned on
  *    the node id, so successive iterations reuse the same partitioning;
  *  - lineage is cut EVERY iteration (localCheckpoint or parquet checkpoint)
  *    — without this, Catalyst analysis time explodes superlinearly
  *    (SURVEY.md §4.2.2);
  *  - iteration count is O(log n) in component size; convergence is detected
  *    by an aggregate checksum of the edge set, not a driver-side collect of
  *    data rows.
  */
object Clustering {

  /** Large-star: for each node u with neighborhood N(u) (symmetric edges),
    * m = min(N(u) ∪ {u}); emit (v, m) for every v in N(u) with v > u. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    // min(N(u) ∪ {u}) == min over rows of least(u, v)
    val m = sym.select(col("u"), least(col("u"), col("v")).as("uv"))
      .groupBy("u").agg(min(col("uv")).as("m"))
    // no distinct here: smallStar dedups its own output, and duplicate rows
    // do not change its min aggregation — saves one shuffle per iteration
    sym.join(m, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
  }

  /** Small-star: orient edges u > v; for each u, m = min of its smaller
    * neighbors; emit (v, m) for each smaller neighbor and (u, m). */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
      greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val m = oriented.groupBy("u").agg(min(col("v")).as("m"))
    oriented.join(m, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(m.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Deterministic order-independent checksum exprs: count + sum of per-row
    * hashes (decimal: exact and overflow-free under ANSI mode). Attached via
    * observe() so convergence detection rides the materialization job instead
    * of costing an extra action per iteration. */
  private def checksumExprs = Seq(
    count(lit(1)).as("c"),
    coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)")).as("h"))

  private def checksumOf(row: org.apache.spark.sql.Row): (Long, BigDecimal) =
    (row.getLong(0), BigDecimal(row.getDecimal(1)))

  /** Connected components over undirected string edges (u, v).
    * Returns (node, cluster_id) where cluster_id = min node of the component.
    * `checkpointDir`: when set, each materialization persists to parquet
    * (resumable lineage cut); otherwise localCheckpoint is used (tests).
    * `roundsPerCut`: large+small-star rounds fused into ONE materialization
    * barrier. DEFAULT 1: both star transforms reference their input several
    * times (union + agg + join), so an un-materialized previous round is
    * RE-EXECUTED 4-6x inside the fused plan — measured at 600k pages, 2
    * rounds/cut made CC 1.6x SLOWER (41s vs 26s) despite halving barriers.
    * Fusing only pays where the barrier (driver coordination + commit)
    * dominates recomputation, e.g. parquet-durable cuts on a slow store;
    * the knob stays for that regime. Convergence still checks the checksum
    * of EVERY fused round (all observations ride the same job), so fusing
    * never changes the result. Throws on non-convergence within maxIter
    * rounds — returning a half-converged edge set as final clusters would be
    * silently wrong downstream.
    */
  def connectedComponents(spark: SparkSession, edges0: DataFrame,
      checkpointDir: Option[String] = None, maxIter: Int = 50,
      roundsPerCut: Int = 1, partitions: Option[Int] = None): DataFrame = {
    // CC is coordination-bound: O(log n) rounds of SMALL shuffles. A
    // data-scaled global shuffle-partition setting (right for the one-pass
    // stages) multiplies per-round task count and made CC 3.5x slower at
    // 2.4M pages (54s -> 189s at 32 -> 256 partitions, measured). So CC's
    // shuffles default to the core count (session setting restored after) —
    // but a flat pin OOMs once edges/cores no longer fits a task's sort
    // (9.6M pages / 56g heap, measured): large inputs must pass a
    // data-scaled `partitions` (Partitioning.ccPartitions; Pipeline does).
    // CC rounds are NOT CPU-heavy per byte (hash agg + join over two id
    // columns), so AQE's byte-targeted coalescing is the right parallelism
    // policy inside the loop: a fixture-sized round collapses to 1-2 tasks
    // (the per-round task overhead across ~10 rounds dominated small-graph
    // CC; measured 2-3x on the 800-page flagship fixture), while a 10^8-edge
    // round still fans out to advisory-sized partitions. parallelismFirst
    // (the default) would instead hold every tiny round at defaultParallelism
    // tasks. Session value restored after the loop — the one-pass stages
    // (scoring) ARE CPU-heavy per byte and need parallelism-first (measured
    // 3x slower at 50k pages under byte-targeted coalescing).
    // Materialize the INPUT edge set BEFORE entering the CC conf scope: the
    // caller's un-materialized upstream (blocking + scoring in entry(), the
    // band self-join + verification in the near-dup family) would otherwise
    // execute inside the loop's byte-targeted coalescing and get starved of
    // parallelism — those subtrees are CPU-heavy per byte, exactly what the
    // scoped confs are wrong for (measured: the whole 800-page flagship
    // upstream ran as CC "round 0" at ~12s). One eager cut of the distinct
    // edge set, executed under the session's own parallelism policy.
    val observed = edges0.select(col("u"), col("v"))
      .filter(col("u") =!= col("v")).distinct()
      .observe("cc_input_edges", count(lit(1)))
    val edgesIn = observed.localCheckpoint(true)
    // an edgeless graph is its own fixpoint (a small delta's re-solve
    // subgraph often is): skip the loop and its per-round jobs
    if (observed.queryExecution.observedMetrics("cc_input_edges").getLong(0) == 0L)
      return edgesIn.select(col("u").as("url"), col("v").as("cluster_id"))
    // small advisory: the coalescer only MERGES below the pinned partition
    // count, so a big run (partitions sized by Partitioning.ccPartitions,
    // each >> 1m) is untouched, a mid-size graph keeps a handful of tasks,
    // and only genuinely tiny rounds collapse to 1
    Cut.withConf(spark,
      "spark.sql.shuffle.partitions" ->
        math.max(2, partitions.getOrElse(spark.sparkContext.defaultParallelism)).toString,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m")(
      connectedComponentsInner(spark, edgesIn, checkpointDir, maxIter, roundsPerCut))
  }

  /** Inner loop; `edges0` must already be the distinct (u, v) edge set,
    * materialized by the caller (connectedComponents cuts it before
    * scoping the loop confs). */
  private def connectedComponentsInner(spark: SparkSession, edges0: DataFrame,
      checkpointDir: Option[String], maxIter: Int,
      roundsPerCut: Int): DataFrame = {
    var edges = edges0
    var last: (Long, BigDecimal) = (-1L, BigDecimal(-1))
    var round = 0
    var converged = false
    var prevCutPath: Option[String] = None
    while (!converged && round < maxIter) {
      val roundsThisCut = math.min(roundsPerCut, maxIter - round)
      var next = edges
      val obs = (0 until roundsThisCut).map { r =>
        val o = org.apache.spark.sql.Observation(s"cc_round_${round + r}")
        next = smallStar(largeStar(next))
          .observe(o, checksumExprs.head, checksumExprs.tail: _*)
        o
      }
      val t0 = System.nanoTime()
      val cut = checkpointDir match {
        case Some(dir) =>
          val ri = round + roundsThisCut - 1
          val path = s"$dir/cc_round_$ri"
          next.write.mode("overwrite").parquet(path)
          // the PREVIOUS cut fed this write and is never read again (no
          // mid-loop resume is implemented; the caller reads only the FINAL
          // cut) — delete it once the new cut's write has committed. Tracked
          // by actual path, not index arithmetic: with roundsPerCut >= 2 the
          // cut indices are spaced roundsThisCut apart, so a hardcoded ri-2
          // never names a cut and GB-scale cuts would accumulate
          // (round-4 advice). At 9.6M pages each cut is GBs.
          prevCutPath.map(new java.io.File(_)).filter(_.exists()).foreach(f =>
            scala.reflect.io.Directory(f).deleteRecursively())
          prevCutPath = Some(path)
          spark.read.parquet(path)
        case None =>
          next.localCheckpoint(eager = true)
      }
      obs.foreach { o =>
        val row = o.get
        val cs = (row("c").asInstanceOf[Long],
          BigDecimal(row("h").asInstanceOf[java.math.BigDecimal]))
        converged ||= cs == last
        last = cs
      }
      // per-round diagnostics (dev only): GRAFT_CC_VERBOSE=1
      if (sys.env.get("GRAFT_CC_VERBOSE").contains("1"))
        println(f"[cc] round=$round wall=${(System.nanoTime() - t0) / 1e9}%.2f s " +
          f"edges=${last._1} converged=$converged")
      edges = cut
      round += roundsThisCut
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds — " +
          "refusing to return a partial clustering")
    // converged edge set is (node -> component-min) star edges
    edges.select(col("u").as("url"), col("v").as("cluster_id"))
  }

  /** Cluster assignment for every node that appears in `nodes`: CC labels for
    * connected nodes, self-cluster for isolated ones. */
  def clusters(spark: SparkSession, matchPairs: DataFrame, nodes: DataFrame,
      checkpointDir: Option[String] = None,
      partitions: Option[Int] = None): DataFrame = {
    val edges = matchPairs.filter(col("is_match"))
      .select(col("url_a").as("u"), col("url_b").as("v"))
    val cc = connectedComponents(spark, edges, checkpointDir, partitions = partitions)
    nodes.select(col("url")).distinct()
      .join(cc, Seq("url"), "left")
      .select(col("url"), coalesce(col("cluster_id"), col("url")).as("cluster_id"))
  }
}
