package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delta-maintenance algebra for the banded near-dup family (SURVEY.md §2.12
  * row I8): given the committed dedup state of a base corpus and an
  * inserts-only delta batch, produce the cluster assignment the FULL BATCH
  * dedup would produce over base ∪ delta — touching only delta-adjacent
  * state. Generic over the hash kernel: the md5-portable twin
  * (Portable.nearDupMd5Incremental, cross-engine proof row g16) and the
  * production xxhash path (Dedup.minhashNearDupAttach) both call this core,
  * so the survivor/cap-crossing logic cannot drift between them.
  *
  * Candidate-diff completeness under inserts-only deltas (band buckets only
  * GAIN members, so n_new >= n_old):
  *  - untouched buckets: membership and eligibility unchanged → generation
  *    unchanged;
  *  - touched, eligible before AND after: old-old pairs regenerate
  *    identically; only delta × co-member pairs are new;
  *  - touched, eligible → over-cap (stop-key crossing): ALL old pairs of the
  *    bucket lose this generator — each survives iff another still-eligible
  *    bucket (untouched, or touched-and-new-eligible) co-contains it,
  *    checked per removed pair;
  *  - touched, ineligible before (n_old < 2): at most one old member, so
  *    every generated pair involves a delta doc → covered by the
  *    delta × co-member expansion (n_old > cap stays over-cap forever).
  * Verification is pair-intrinsic over immutable per-doc sets, so candidate
  * flips are exactly edge flips, and CC labels are maintained with the same
  * dissolve/re-solve pattern as the ER attach (ops/Incremental I5).
  *
  * Scale shape: every shuffle is delta-proportional — base state is read as
  * scans pruned by semi-joins against the touched buckets / affected ids;
  * nothing re-hashes or re-pairs the untouched corpus.
  */
object DeltaDedup {

  /** Edge flips + maintained assignment from one inserts-only attach. */
  final case class Attached(
      /** (url, cluster_id) lpad-keyed assignment over base ∪ delta nodes. */
      assign: DataFrame,
      /** (id_a, id_b) verified base edges that lost their last eligible
        * generating bucket (stop-key crossings). */
      removed: DataFrame,
      /** (id_a, id_b) newly verified edges involving a delta doc. */
      added: DataFrame)

  /** lpad string key: string order == numeric order for long ids, so CC's
    * min-label representative equals the min numeric id. */
  private[ops] def key(c: Column): Column = lpad(c.cast("string"), 20, "0")

  /** Shared batch candidate rule: buckets with 1 < n <= maxBucket generate
    * all (id_a < id_b) member pairs; over-cap (stop-key) and singleton
    * buckets generate none. `keyed` is (id, bucket, ...). */
  private[ops] def cappedPairs(keyed: DataFrame, maxBucket: Int): DataFrame = {
    val sized = keyed.groupBy("bucket").agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxBucket && col("n") > 1)
    val inB = keyed.select("bucket", "id").join(sized, "bucket")
    inB.as("a").join(inB.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Attach an inserts-only delta to a committed dedup state.
    *
    * @param keyedAll    (id, bucket, is_delta) band table over base ∪ delta.
    *                    The base slice must be the committed band index (NOT
    *                    recomputed); the delta slice should be plan-cut by
    *                    the caller (it is read many times below).
    * @param baseEdges   (id_a, id_b) verified near-dup edges of the base
    *                    state (id_a < id_b).
    * @param baseAssign  (url, cluster_id) lpad-keyed assignment for EVERY
    *                    base id (self-clusters included).
    * @param verify      candidates (id_a, id_b) → verified pairs, pair-
    *                    intrinsic over immutable per-doc sets. MUST apply
    *                    the same similarity + threshold the batch used.
    * @param maxBucket   the batch family's stop-key cap.
    * @param keyFn       id → CC node key. The default zero-pads numeric ids
    *                    so string order equals numeric order; callers whose
    *                    ids are already totally-ordered strings (the ER
    *                    twin's urls) pass identity.
    */
  def attach(spark: SparkSession, keyedAll: DataFrame, baseEdges: DataFrame,
      baseAssign: DataFrame, verify: DataFrame => DataFrame,
      maxBucket: Int, keyFn: Column => Column = key): Attached =
    Cut.withBroadcastCap(spark, Cut.defaultBroadcastCap) { scope =>
      val keyedB = keyedAll.filter(!col("is_delta"))
      val keyedD = keyedAll.filter(col("is_delta"))

      // Every probe into the committed base below is a kept (delta-
      // proportional) frame with exact stats (Cut), so under the scope's
      // broadcast cap the planner broadcasts it and reads the band index as a
      // streaming scan — never shuffled. With the pre-computation estimate a
      // bare checkpoint keeps, each prune sort-merge-shuffled the whole index
      // (the measured 2.4M-doc attach floor, 145s, SCALING.json). Probe sets
      // are bounded by ~bands x |delta| rows (plus the rare cap-crossing
      // neighborhoods); one past the cap shuffles instead of failing.
      val touched = Cut.keep("dd_touched")(keyedD.select("bucket").distinct())

      // touched-bucket membership under old and new views. n_old is DERIVED
      // (n_new minus the bucket's delta rows — exact under inserts-only, a
      // band table holds one row per (id, band)) instead of aggregating a
      // second scan of the base index.
      val oldT = keyedB.join(touched, Seq("bucket"), "left_semi")
      val newT = Cut.keep("dd_newT")(oldT.unionByName(keyedD))
      val sizes = Cut.keep("dd_sizes")(newT
        .groupBy("bucket").agg(count(lit(1)).as("n_new"))
        .join(keyedD.groupBy("bucket").agg(count(lit(1)).as("n_d")),
          Seq("bucket"), "left")
        .select(col("bucket"),
          (col("n_new") - coalesce(col("n_d"), lit(0L))).as("n_old"),
          col("n_new")))
      val eligNew = sizes
        .filter(col("n_new") > 1 && col("n_new") <= maxBucket).select("bucket")

      // ADDED candidates: delta members × co-members in new-eligible buckets
      val newTElig = newT.join(eligNew, Seq("bucket"), "left_semi")
      // materializes concurrently with the removed-candidate branch below
      // (both depend only on the kept newT/sizes)
      val addedCandF = Cut.keepAsync("dd_addedCand")(newTElig
        .filter(col("is_delta"))
        .select(col("bucket"), col("id").as("id_d"))
        .join(newTElig.select(col("bucket"), col("id").as("id_o")), Seq("bucket"))
        .filter(col("id_d") =!= col("id_o"))
        .select(least(col("id_d"), col("id_o")).as("id_a"),
          greatest(col("id_d"), col("id_o")).as("id_b"))
        .distinct())

      // REMOVED candidates: the whole pair set of buckets that CROSSED the
      // stop-key cap on insert, minus pairs another still-eligible bucket
      // (untouched — full size recomputed only for the buckets involved — or
      // touched-and-new-eligible) still generates
      val crossed = sizes.filter(col("n_old") > 1 && col("n_old") <= maxBucket &&
        col("n_new") > maxBucket).select("bucket")
      val crossedMembers = newT.join(crossed, Seq("bucket"), "left_semi")
        .filter(!col("is_delta"))
      val removedCand0 = Cut.keep("dd_removedCand0")(crossedMembers.as("a")
        .join(crossedMembers.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct())
      val removedIds = Cut.keep("dd_removedIds")(removedCand0
        .select(col("id_a").as("id"))
        .union(removedCand0.select(col("id_b").as("id"))).distinct())
      // the added-edge verification (shingle hydration + pair kernels) is the
      // expensive leg — overlap it with the removed-branch survivor scans
      val addedCand = Cut.await(addedCandF)
      val addedLF = Cut.keepAsync("dd_addedL")(verify(addedCand)
        .join(baseEdges.join(addedCand.select("id_a").distinct(),
          Seq("id_a"), "left_semi"), Seq("id_a", "id_b"), "left_anti"))
      val untouchedOfRemoved = Cut.keep("dd_untouchedOfRemoved")(keyedB
        .join(removedIds, Seq("id"), "left_semi")
        .join(touched, Seq("bucket"), "left_anti"))
      val untouchedEligSizes = keyedB
        .join(untouchedOfRemoved.select("bucket").distinct(),
          Seq("bucket"), "left_semi")
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1 && col("n") <= maxBucket)
      val gen = untouchedOfRemoved
        .join(untouchedEligSizes.select("bucket"),
          Seq("bucket"), "left_semi")
        .select("bucket", "id")
        .unionByName(newTElig.join(removedIds, Seq("id"), "left_semi")
          .select("bucket", "id"))
      val survivors = removedCand0
        .join(gen.select(col("bucket"), col("id").as("id_a")), Seq("id_a"))
        .join(gen.select(col("bucket"), col("id").as("id_b")),
          Seq("id_b", "bucket"), "left_semi")
        .select("id_a", "id_b").distinct()
      val trueRemoved = removedCand0.join(survivors, Seq("id_a", "id_b"), "left_anti")

      // edge flips: pair-intrinsic verification over immutable sets. The
      // anti-join's base side is pre-pruned to the delta ids' edges (an
      // anti-join result only depends on right rows whose keys appear on the
      // left), so the base edge table is never shuffled either.
      val removedL = Cut.keep("dd_removedL")(baseEdges.join(trueRemoved,
        Seq("id_a", "id_b"), "left_semi"))
      val addedL = Cut.await(addedLF)
      val removedK = removedL.select(keyFn(col("id_a")).as("url_a"),
        keyFn(col("id_b")).as("url_b"))
      val addedK = addedL.select(keyFn(col("id_a")).as("url_a"),
        keyFn(col("id_b")).as("url_b"))

      // dissolve components an edge flip touches; re-solve with delta nodes;
      // everything else keeps its base label (same pattern as the ER attach)
      val changedUrls = removedK.select(col("url_a").as("url"))
        .union(removedK.select(col("url_b").as("url")))
        .union(addedK.select(col("url_a").as("url")))
        .union(addedK.select(col("url_b").as("url")))
        .distinct()
      val affectedLabels = Cut.keep("dd_affectedLabels")(baseAssign
        .join(changedUrls, Seq("url"), "left_semi")
        .select("cluster_id").distinct())
      val memberUrls = Cut.keep("dd_memberUrls")(baseAssign
        .join(affectedLabels, Seq("cluster_id"), "left_semi")
        .select("url"))
      val subNodes = memberUrls
        .union(keyedD.select(keyFn(col("id")).as("url")).distinct()).distinct()
      val memberEdges = baseEdges
        .select(keyFn(col("id_a")).as("url_a"), keyFn(col("id_b")).as("url_b"))
        .join(memberUrls.withColumnRenamed("url", "url_a"),
          Seq("url_a"), "left_semi")
      val subEdges = memberEdges
        .join(removedK, Seq("url_a", "url_b"), "left_anti")
        .unionByName(addedK)
        .withColumn("is_match", lit(true))
      val resolved = scope.outside(Clustering.clusters(spark, subEdges, subNodes))
      val assign = Cut.keep("dd_assign")(baseAssign
        .join(affectedLabels, Seq("cluster_id"), "left_anti")
        .select("url", "cluster_id")
        .unionByName(resolved.select("url", "cluster_id")))
      Attached(assign, removedL, addedL)
    }

  /** Detach a delete batch from a committed dedup state: produce the cluster
    * assignment the FULL BATCH dedup would produce over base ∖ deleted —
    * the takedown/right-to-be-forgotten half of the delta algebra (an
    * update is detach ∘ attach; DedupIncrementalSpec proves the
    * composition). Deletes are SIMPLER than inserts because buckets only
    * SHRINK (n_new <= n_old):
    *  - removed edges: every base edge incident to a deleted id,
    *    unconditionally — the doc is gone regardless of which buckets
    *    generated the pair; a remaining-remaining pair can never lose a
    *    generator (no bucket crosses the cap upward, and an
    *    eligible → ineligible bucket has at most ONE remaining member, so
    *    it held no remaining-remaining pair);
    *  - added candidates: buckets that DROP back under the stop-key cap
    *    (n_old > maxBucket, 1 < n_new <= maxBucket) newly generate ALL
    *    remaining-member pairs — verified pair-intrinsically, minus edges
    *    the base already had;
    *  - CC: components touched by an edge flip or containing a deleted
    *    node are dissolved and re-solved WITHOUT the deleted nodes;
    *    everything else keeps its base label verbatim.
    *
    * @param baseKeyed   committed (id, bucket) band index of the base.
    * @param deletedIds  (id) docs to remove; must be ⊆ base ids. Read several
    *                    times below: pass a kept frame (or a deterministic
    *                    filter of one).
    * @param verify      as in attach; only ever called on remaining ids.
    */
  def detach(spark: SparkSession, baseKeyed: DataFrame, deletedIds: DataFrame,
      baseEdges: DataFrame, baseAssign: DataFrame,
      verify: DataFrame => DataFrame, maxBucket: Int,
      keyFn: Column => Column = key): Attached =
    Cut.withBroadcastCap(spark, Cut.defaultBroadcastCap) { scope =>
      val delIds = deletedIds.select("id")

      // touched buckets + membership before and after the delete. Probe sets
      // are kept frames, deleted-member counts derived from the (kept, delete-
      // proportional) deleted membership — the base index is read once as a
      // streaming scan, never shuffled (same rationale as attach).
      val delMembers = Cut.keep("ddx_delMembers")(
        baseKeyed.join(delIds, Seq("id"), "left_semi"))
      val touched = Cut.keep("ddx_touched")(delMembers.select("bucket").distinct())
      val oldT = baseKeyed.join(touched, Seq("bucket"), "left_semi")
      val newT = Cut.keep("ddx_newT")(oldT.join(delIds, Seq("id"), "left_anti"))
      val sizes = Cut.keep("ddx_sizes")(newT
        .groupBy("bucket").agg(count(lit(1)).as("n_new"))
        .join(touched, Seq("bucket"), "right_outer")
        .select(col("bucket"), coalesce(col("n_new"), lit(0L)).as("n_new"))
        .join(delMembers.groupBy("bucket").agg(count(lit(1)).as("n_d")),
          Seq("bucket"), "left")
        .select(col("bucket"),
          (col("n_new") + coalesce(col("n_d"), lit(0L))).as("n_old"),
          col("n_new")))

      // removed edges: incident to a deleted id (see scaladoc for why this is
      // the COMPLETE removal set under deletes)
      val removedL = Cut.keep("ddx_removedL")(baseEdges
        .join(delIds.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_semi")
        .unionByName(baseEdges
          .join(delIds.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_semi")
          .select("id_a", "id_b"))
        .distinct())

      // ADDED candidates: stop-key re-entry — remaining pairs of buckets that
      // dropped back under the cap
      val reentered = sizes.filter(col("n_old") > maxBucket &&
        col("n_new") > 1 && col("n_new") <= maxBucket).select("bucket")
      val reMembers = newT.join(reentered, Seq("bucket"), "left_semi")
      val addedCand = Cut.keep("ddx_addedCand")(reMembers.as("a")
        .join(reMembers.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct())
      val addedL = Cut.keep("ddx_addedL")(verify(addedCand)
        .join(baseEdges.join(addedCand.select("id_a").distinct(),
          Seq("id_a"), "left_semi"), Seq("id_a", "id_b"), "left_anti"))

      val removedK = removedL.select(keyFn(col("id_a")).as("url_a"),
        keyFn(col("id_b")).as("url_b"))
      val addedK = addedL.select(keyFn(col("id_a")).as("url_a"),
        keyFn(col("id_b")).as("url_b"))
      val delUrls = delIds.select(keyFn(col("id")).as("url"))

      // dissolve components touched by an edge flip or holding a deleted node;
      // re-solve without the deleted nodes; keep every other label verbatim
      val changedUrls = removedK.select(col("url_a").as("url"))
        .union(removedK.select(col("url_b").as("url")))
        .union(addedK.select(col("url_a").as("url")))
        .union(addedK.select(col("url_b").as("url")))
        .union(delUrls)
        .distinct()
      val affectedLabels = Cut.keep("ddx_affectedLabels")(baseAssign
        .join(changedUrls, Seq("url"), "left_semi")
        .select("cluster_id").distinct())
      val memberUrls = Cut.keep("ddx_memberUrls")(baseAssign
        .join(affectedLabels, Seq("cluster_id"), "left_semi")
        .select("url"))
      val subNodes = memberUrls.join(delUrls, Seq("url"), "left_anti")
      val memberEdges = baseEdges
        .select(keyFn(col("id_a")).as("url_a"), keyFn(col("id_b")).as("url_b"))
        .join(memberUrls.withColumnRenamed("url", "url_a"),
          Seq("url_a"), "left_semi")
      val subEdges = memberEdges
        .join(removedK, Seq("url_a", "url_b"), "left_anti")
        .unionByName(addedK)
        .withColumn("is_match", lit(true))
      val resolved = scope.outside(Clustering.clusters(spark, subEdges, subNodes))
      val assign = Cut.keep("ddx_assign")(baseAssign
        .join(affectedLabels, Seq("cluster_id"), "left_anti")
        .select("url", "cluster_id")
        .unionByName(resolved.select("url", "cluster_id")))
      Attached(assign, removedL, addedL)
    }
}
