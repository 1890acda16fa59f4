package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.gen.{Synth, SynthParams}
import graft.ops.{Ann, Dedup, Extract, Incremental, Multimodal, Scoring, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` covers the operator inventory of SURVEY.md §2 over the driver's
  * testdata tables plus the training-data-pipeline ops over
  * documents/embeddings. EVERY query except g01 has a DuckDB oracle in
  * `oracleSql` (column names aligned on both sides; money aggregates cast to
  * DECIMAL before summing so both engines produce exact, order-independent
  * results). The near-dup/ANN family achieves this by running oracle-portable
  * md5 twins (ops/Portable.scala) in `queries` while Bench measures the
  * production hash family under the same names (`benchOverrides`). g01 (the
  * flagship pipeline) and g15 (its incremental-attach form) are oracle-
  * checked end-to-end via the portable twin over a fixture parquet both
  * engines read; the production paths are pinned by ProdFlagshipSpec /
  * IncrementalSpec and the ScalaTest gates (SURVEY.md §5.2).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The flagship fixture size — shared by entry(), the g01 portable twin,
    * and Verify's fixture-parquet dump (the g01 oracle reads that dump, so
    * all three MUST agree). */
  val FlagshipParams: SynthParams = SynthParams(nPages = 800, nEntities = 120)

  /** Memoized per-sfDir ANN query vector: q24/g05 need the first embedding
    * row as a literal; fetching it is a separate one-row job that should not
    * ride inside every timed invocation (round-3 advice). */
  private val qvCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Float]]()
  private def queryVec(s: SparkSession, d: String): Array[Float] =
    qvCache.computeIfAbsent(d, _ => t(s, d, "embeddings").orderBy("vec_id")
      .select("embedding").head().getSeq[Float](0).toArray)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0: the full ER
    * pipeline (extract -> block -> score) on the deterministic fixture,
    * returning per-cluster sizes. */
  def entry(spark: SparkSession): DataFrame =
    entryClusters(spark).groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
      .filter(col("cluster_size") > 1)

  /** The production flagship pipeline's full cluster MEMBERSHIP
    * (url, cluster_id) on the flagship fixture — entry() aggregates this to
    * per-cluster sizes; ProdFlagshipSpec pins it member-for-member to the
    * planted gold entities and to the oracle-checked portable twin. */
  def entryClusters(spark: SparkSession): DataFrame = {
    val p = FlagshipParams
    val pages = Extract.withInvariant(
      Extract.latestSnapshot(Synth.pages(spark, p).toDF()))
    val mentions = Extract.mentions(pages)
    val (pairs, releaseBlocks) =
      graft.ops.Blocking.pairsManaged(mentions, Synth.dict(spark, p).toDF())
    val scored = Scoring.score(pairs, mentions)
    val clusters = graft.ops.Clustering.clusters(spark, scored,
      pages.filter(col("lang") === "en"))
    // CC materializes its input eagerly inside clusters(), so the block
    // caches are fully consumed here — release them (no session-lifetime leak)
    releaseBlocks()
    clusters
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans / projections / filters (S1, P1-P8) ----
    // NOTE on decimal outputs (round-1 hash-fail fix): aggregation runs in
    // exact decimal on BOTH engines, but the FINAL columns are cast to DOUBLE
    // so the driver's pandas hash compares IEEE754 values, not engine-internal
    // decimal representations (which diverged at sf0.1). Exact-decimal-sum →
    // double is a deterministic, engine-independent conversion.
    "q01_agg" -> ((s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(28,4)")).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))),

    "q02_filter_project" -> ((s, d) => t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_discount") > 0.05 && col("l_quantity") < 25)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(18,2)")).cast("decimal(28,4)")
          .cast("double").as("disc_amount"))),

    // ---- joins (J1-J8) ----
    "q03_join_broadcast" -> ((s, d) => t(s, d, "orders")
      .join(broadcast(t(s, d, "customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("segment_revenue"),
        count(lit(1)).as("n_orders"))),

    "q04_semi_join" -> ((s, d) => t(s, d, "customer")
      .join(t(s, d, "orders").select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_customers_with_orders"))),

    "q05_anti_join" -> ((s, d) => t(s, d, "customer")
      .join(t(s, d, "orders").select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_nationkey")),

    "q06_outer_join_nullfill" -> ((s, d) => t(s, d, "nation")
      .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"), "left")
      .select(col("n_nationkey"), col("n_name"),
        coalesce(col("r_name"), lit("UNKNOWN")).as("region_name"))),

    "q07_multi_join" -> ((s, d) => t(s, d, "lineitem")
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .cast("decimal(28,4)")).cast("double").as("revenue"))),

    // ---- aggregations (A1-A10) ----
    "q08_agg_distinct" -> ((s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_suppkey")).as("n_suppliers"))),

    "q09_conditional_agg" -> ((s, d) => t(s, d, "orders")
      .agg(
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
        sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("n_p"))),

    "q10_having" -> ((s, d) => t(s, d, "lineitem")
      .groupBy("l_suppkey").agg(count(lit(1)).as("n_items"))
      .filter(col("n_items") > 400)),

    // Array-valued results are emitted as canonical comma-joined strings so
    // the driver's pandas sort/hash (which cannot sort ndarray cells) gets
    // hashable values — round-1 oracle-err fix.
    "q11_collect_agg" -> ((s, d) => t(s, d, "nation")
      .groupBy("n_regionkey")
      .agg(array_join(sort_array(collect_set(col("n_name"))), ",").as("nations"),
        array_join(sort_array(collect_list(col("n_name"))), ",").as("nations_all"),
        count(lit(1)).as("n_nations"))),

    // ---- windows (§2.5) ----
    "q12_window_topn" -> ((s, d) => t(s, d, "orders")
      .withColumn("rn", row_number().over(
        Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
      .filter(col("rn") <= 2)
      .select("o_custkey", "o_orderkey", "rn")),

    "q13_window_running" -> ((s, d) => t(s, d, "events")
      .withColumn("running_value",
        round(sum(col("value")).over(
          Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, 0)), 4))
      .select("event_id", "user_id", "running_value")),

    "q14_window_lag" -> ((s, d) => t(s, d, "events")
      .withColumn("prev_type", lag(col("event_type"), 1).over(
        Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))))
      .select(col("event_id"), col("user_id"),
        coalesce(col("prev_type"), lit("NONE")).as("prev_type"))),

    // ---- sorts / limits / top-k (O1-O3) ----
    "q15_topk" -> ((s, d) => t(s, d, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderkey", "o_totalprice").limit(50)),

    // ---- set ops (T1-T3) ----
    "q16_setops" -> ((s, d) => {
      val f = t(s, d, "orders").filter(col("o_orderstatus") === "F")
        .select("o_custkey")
      val o = t(s, d, "orders").filter(col("o_orderstatus") === "O")
        .select("o_custkey")
      f.intersect(o).withColumn("kind", lit("both"))
        .unionByName(f.except(o).withColumn("kind", lit("f_only")))
    }),

    "q17_array_setops" -> ((s, d) => t(s, d, "orders")
      .groupBy("o_custkey")
      .agg(collect_set(col("o_orderpriority")).as("prio"))
      .select(col("o_custkey"),
        array_join(sort_array(array_intersect(col("prio"),
          array(lit("1-URGENT"), lit("2-HIGH")))), ",").as("urgent_prios"),
        array_join(sort_array(array_except(col("prio"),
          array(lit("1-URGENT"), lit("2-HIGH")))), ",").as("other_prios"),
        size(col("prio")).as("n_prios"))),

    // ---- scalar function surface (§2.8) ----
    "q18_string_funcs" -> ((s, d) => t(s, d, "part")
      .select(col("p_partkey"),
        lower(col("p_name")).as("name_lower"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 5).as("name_prefix"),
        regexp_replace(lower(col("p_name")), "[aeiou]", "").as("name_novowel"))),

    // ---- sampling (O4-O7) is seeded-engine-specific: rows-only entries below
    // ---- documents: training-data pipeline ----
    "q19_docs_exact_dedup" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"))),

    "q20_docs_token_stats" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        TextOps.wsTokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("n_chars_actual"))),

    "q21_docs_quality" -> ((s, d) =>
      TextOps.withQualitySignals(t(s, d, "documents"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("alpha_ratio"), 6).as("alpha_ratio"),
          col("quality_score"))),

    "q22_docs_lang_dist" -> ((s, d) => t(s, d, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))),

    "q23_emb_stats" -> ((s, d) => t(s, d, "embeddings")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        min(size(col("embedding"))).as("min_dim"),
        max(size(col("embedding"))).as("max_dim"))),

    "q24_emb_brute_topk" -> ((s, d) =>
      Ann.bruteForceTopK(t(s, d, "embeddings"), queryVec(s, d), 10)),

    "q25_json_extract" -> ((s, d) => t(s, d, "events")
      .select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k").as("k"))
      .filter(col("k") > 50)),

    "q26_multilabel" -> ((s, d) => {
      // document-level multi-label metrics (A8): doc=user_id,
      // label=event_type, pred/gold derived deterministically per group
      val base = t(s, d, "events")
        .groupBy(col("user_id").as("doc"), col("event_type").as("label"))
        .agg(
          (max(col("value")) > 75).cast("int").as("pred"),
          (max(from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k")) > 75)
            .cast("int").as("gold"))
      graft.ops.Metrics.multiLabel(base)
    }),

    // ---- deterministic seeded sampling via content hash (O4-O6): the
    // sample membership is a pure function of (seed, row keys) — md5 compared
    // against a hex threshold — so it is reproducible across engines,
    // repartitionings, and reruns (the property the reference's
    // random.Random(1234).shuffle cannot give a distributed engine). The
    // engine-RNG variants (DataFrame.sample / sampleBy) remain available;
    // this is the web-scale-reproducible form, and it is fully
    // oracle-checkable. perm_first = arg-min over the seeded md5 permutation
    // key (O4: deterministic shuffle). ----
    "g10_seeded_sample" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      def key(seed: Int) = md5(concat_ws(":", lit(seed),
        col("l_orderkey"), col("l_linenumber")))
      val hk = substring(key(1234), 1, 4)
      val frac = li.filter(hk < "1999")
        .groupBy("l_returnflag").agg(count(lit(1)).as("n_sampled"))
      val strat = li.filter(hk <
          when(col("l_returnflag") === "R", "8000")
            .when(col("l_returnflag") === "A", "4000").otherwise("1999"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n_stratified"))
      val perm = li.groupBy("l_returnflag")
        .agg(min_by(col("l_orderkey"), key(777)).as("perm_first"))
      frac.join(strat, Seq("l_returnflag"), "left")
        .join(perm, Seq("l_returnflag"), "left")
    }),

    // g01: the ORACLE-PORTABLE twin of the flagship pipeline (the same
    // pattern as the near-dup family): every stage — snapshot dedup,
    // invariant, mention extraction, dict+LSH blocking, capped pairs,
    // context-overlap scoring, CC — rebuilt from engine-portable primitives
    // over the SAME deterministic fixture that Verify dumps to parquet for
    // DuckDB (ops/Portable.erClustersPortable). Bench overrides this name
    // back to the production entry() (xxhash blocking + similarity-ensemble
    // scoring), which stays the driver's smoke-checked flagship.
    "g01_er_clusters" -> ((s, _) => {
      val p = FlagshipParams
      graft.ops.Portable.erClustersPortable(s,
        Synth.pages(s, p).toDF(), Synth.dict(s, p).toDF())
    }),

    // g15: INCREMENTAL ER, cross-engine proof row. The Spark side resolves a
    // deterministic 75% of the fixture as a base corpus, then ATTACHES the
    // remaining 25% as a delta batch touching only delta-adjacent state
    // (ops/Portable.erClustersPortableIncremental — the shared
    // DeltaDedup.attach algebra over the twin's bucket table). The oracle replays the FULL BATCH twin over
    // the whole fixture (the g01 SQL): hash equality proves the delta-
    // maintenance algebra equals a from-scratch run in an independent
    // engine. Production (xxhash/ensemble) incremental attach is pinned to
    // its own batch run by IncrementalSpec.
    "g15_incremental_er" -> ((s, _) => {
      val p = FlagshipParams
      graft.ops.Portable.erClustersPortableIncremental(s,
        Synth.pages(s, p).toDF(), Synth.dict(s, p).toDF())
    }),

    // g18: incremental ER DELETE, cross-engine proof row — the takedown
    // half of the ER delta algebra. The twin resolves the WHOLE fixture as
    // committed base, then DETACHES a deterministic ~25% md5 url slice
    // (DeltaDedup.detach over the twin's dict+LSH bucket table). The oracle
    // replays the g01 FULL BATCH SQL over the remaining urls only: hash
    // equality proves detach == from-scratch over the post-delete corpus.
    // Production path: ops/Incremental.detach (tombstone-attach + s0
    // erasure), pinned by IncrementalSpec; Bench overrides g18 to it.
    "g18_incremental_er_delete" -> ((s, _) => {
      val p = FlagshipParams
      graft.ops.Portable.erClustersPortableDetach(s,
        Synth.pages(s, p).toDF(), Synth.dict(s, p).toDF())
    }),

    // Near-dup family (g02/g03/g04/g11): the queries run the ORACLE-PORTABLE
    // twins (ops/Portable.scala — md5 hash family, identical capped
    // candidates → exact verify → CC dataflow) so the driver's DuckDB can
    // hash-check the FULL pipeline including clustering (recursive-CTE
    // transitive closure). Bench overrides these four names back to the
    // production xxhash/custom-kernel variants (benchOverrides below).
    "g02_docs_minhash_neardup" -> ((s, d) =>
      graft.ops.Portable.nearDupMd5(s, t(s, d, "documents"), "doc_id",
        Dedup.charShingles(lower(col("text")), 5), threshold = 0.8)),

    // g16: INCREMENTAL near-dup, cross-engine proof row — the g15 delta-
    // maintenance pattern extended to the training-data dedup family. The
    // Spark side dedups a deterministic ~75% of the documents table as a
    // base corpus, then ATTACHES the remaining ~25% touching only delta-
    // adjacent buckets (incl. stop-key cap crossings, whose evicted pairs
    // get a per-pair survivor check) and re-solving only dissolved CC
    // components. The oracle replays the FULL BATCH g02 SQL: hash equality
    // proves attach == from-scratch dedup in an independent engine; the
    // engine-side pin is ProdTwinAgreementSpec's g16 test. Bench bounds the
    // md5 twin's cost via a deterministic doc_id%10 slice (benchOverrides).
    "g16_incremental_neardup" -> ((s, d) =>
      graft.ops.Portable.nearDupMd5Incremental(s, t(s, d, "documents"),
        "doc_id", Dedup.charShingles(lower(col("text")), 5), threshold = 0.8)),

    // g17: incremental near-dup DELETE, cross-engine proof row — the
    // takedown half of the delta algebra. The Spark side dedups the WHOLE
    // documents table as committed base state, then DETACHES a
    // deterministic ~25% md5 slice (edges incident to deleted docs retract
    // unconditionally; buckets dropping back under the stop-key cap
    // re-generate their remaining pairs; only dissolved CC components
    // re-solve). The oracle replays the FULL BATCH g02 SQL over the
    // remaining ~75%: hash equality proves detach == from-scratch dedup of
    // the post-delete corpus. Updates compose: detach ∘ attach
    // (DedupIncrementalSpec). Bench overrides g17 to the production
    // Dedup.minhashNearDupDetach of a 2% slice against the committed state.
    "g17_incremental_neardup_delete" -> ((s, d) =>
      graft.ops.Portable.nearDupMd5Detach(s, t(s, d, "documents"),
        "doc_id", Dedup.charShingles(lower(col("text")), 5), threshold = 0.8)),

    "g03_docs_simhash_neardup" -> ((s, d) =>
      graft.ops.Portable.simhashNearDupMd5(s, t(s, d, "documents"))),

    "g04_docs_ngram_neardup" -> ((s, d) =>
      graft.ops.Portable.nearDupMd5(s, t(s, d, "documents"), "doc_id",
        graft.ops.Portable.wordNgramSet(col("text"), 3), threshold = 0.7)),

    // IVF-style ANN: deterministic argmax coarse bucket (engine-portable,
    // hash-green) — the multi-probe sign-plane LSH variant stays the bench
    // entry (benchOverrides) and keeps its recall-vs-brute unit gate.
    "g05_emb_lsh_topk" -> ((s, d) =>
      Ann.ivfTopK(t(s, d, "embeddings"), queryVec(s, d), 10)),

    "g06_docs_langid" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        TextOps.langIdHeuristic(col("text")).as("lang_pred"))),

    // fingerprint = md5 of whitespace-normalized lowercase text: unlike the
    // xxhash64 rolling fingerprint (still available as
    // functions.doc_fingerprint for the pipeline), md5 exists in DuckDB, so
    // this query is fully oracle-checked.
    "g07_docs_fingerprint" -> ((s, d) =>
      TextOps.withFingerprintMd5(t(s, d, "documents"))
        .select("doc_id", "fingerprint")),

    "g08_multimodal_features" -> ((s, d) =>
      Multimodal.withPayloadFeatures(
        Multimodal.withMediaMeta(
          t(s, d, "documents").select(col("doc_id"),
            col("text").cast("binary").as("payload"))))
        .select(col("doc_id"), col("media_size_bytes"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          col("media_meta.format").as("format"),
          col("payload_sha"), size(col("features")).as("feature_dim"))),

    "g09_events_sessionize" -> ((s, d) => {
      // session = gap > 30 min per user (streaming-style sessionization as
      // batch window math; SURVEY.md §2.10 keeps Structured Streaming out of
      // scope). Gap compares MICROSECONDS (event ts has sub-second precision;
      // unix_timestamp's second truncation would diverge from the oracle).
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts").cast("timestamp")) -
              unix_micros(col("prev_ts").cast("timestamp")) > 1800L * 1000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"))
    }),

    // ---- rule-gated ensemble (reference evaluation_util.py:17-38 shape:
    // both rules fire => positive, neither fires => negative, disagreement =>
    // defer to the model — per-row model selection by rule state) ----
    "q27_rule_gated" -> ((s, d) => {
      val sig = TextOps.withQualitySignals(t(s, d, "documents"))
      sig.select(col("doc_id"),
          (col("n_tokens") > 20).as("rule_len"),
          (col("alpha_ratio") >= 0.55).as("rule_alpha"),
          col("mean_word_len").between(3.0, 10.0).as("model_pred"))
        .select(col("doc_id"),
          col("rule_len").cast("int").as("rule_len"),
          col("rule_alpha").cast("int").as("rule_alpha"),
          when(col("rule_len") && col("rule_alpha"), 1)
            .when(!col("rule_len") && !col("rule_alpha"), 0)
            .otherwise(col("model_pred").cast("int")).as("gated_pred"))
    }),

    // ---- multi-hop taxonomy rollup (reference UMLS->ORDO->ICD10->ICD9
    // chains, rare_disease_id_util.py:278-322 + per-doc union-dedup,
    // step9_processing_all_documents.py:241-252): chained broadcast dim joins
    // + per-key collect_set rollup ----
    "q28_taxonomy_rollup" -> ((s, d) => t(s, d, "lineitem")
      .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("l_orderkey")
      .agg(
        array_join(sort_array(collect_set(col("n_name"))), ",").as("nations"),
        array_join(sort_array(collect_set(col("r_name"))), ",").as("regions"),
        countDistinct(col("s_suppkey")).as("n_suppliers"))),

    // ---- diverse per-key cap (SURVEY.md O7; reference 25-per-mention
    // diverse sampling): deterministic content-hash order => an unbiased,
    // repartition-stable k-per-key sample, WindowGroupLimit-friendly ----
    "q30_diverse_cap" -> ((s, d) =>
      Scoring.topKPerKey(t(s, d, "lineitem"), Seq("l_suppkey"),
        Seq(md5(concat_ws(":", lit(42), col("l_orderkey"), col("l_linenumber"))).asc,
          col("l_orderkey").asc, col("l_linenumber").asc), 5)
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("kept_qty"))),

    // ---- nested annotation-document JSON (SURVEY.md S4; reference
    // step0_mimic3_data_processing.py:151-181): a per-doc JSON with doc
    // structure -> {text, start, anns[{startNode/endNode offsets, features}]}
    // is BUILT deterministically from the documents table (pure string
    // concat, so DuckDB builds the identical bytes), ~1% of rows corrupted
    // by truncation, then parsed with the full nested MapType/ArrayType/
    // StructType schema. Corrupt rows are tolerated (null + parse_ok=false),
    // the per-ann gates (Negation, abbreviation length) filter, and offsets
    // come out part-relative. Both engines parse the SAME json bytes with
    // their own parsers — a real cross-engine check of the nested source.
    "q29_json_anns" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val len1 = when(col("doc_id") % 5 === 0, lit(2)).otherwise(lit(10))
      val neg2 = when(col("doc_id") % 3 === 0, lit("Negated")).otherwise(lit("Affirmed"))
      val code = concat(lit("C"), (col("doc_id") % 50).cast("string"))
      val j0 = concat(
        lit("""{"body":{"text":""""), col("text"),
        lit("""","start":7,"anns":[{"startNode":{"offset":7},"endNode":{"offset":"""),
        (lit(7) + len1).cast("string"),
        lit("""},"features":{"Negation":"Affirmed","STY":"Disease or Syndrome","Experiencer":"Patient","string_orig":""""),
        col("text").substr(lit(1), len1),
        lit("""","inst":""""), code, lit("""","PREF":"lbl"}},"""),
        lit("""{"startNode":{"offset":12},"endNode":{"offset":32},"features":{"Negation":""""),
        neg2,
        lit("""","STY":"Disease or Syndrome","Experiencer":"Patient","string_orig":""""),
        col("text").substr(lit(6), lit(20)),
        lit("""","inst":""""), code, lit("""","PREF":"lbl2"}}]}}"""))
      val j = when(col("doc_id") % 97 === 3,
        j0.substr(lit(1), length(j0) - 1)).otherwise(j0)
      graft.sources.AnnJson.annotations(
        graft.sources.AnnJson.parsed(
          docs.select(col("doc_id"), j.as("json")), "json"))
        .select(col("doc_id"), col("doc_part"), col("code"), col("label"),
          col("mention"), col("begin").as("m_begin"), col("end").as("m_end"))
    }),

    // ---- FP/FN error analysis (reference step7.5_error_analysis.py:42,65):
    // gold ⟕ predictions, each row bucketed by error cause (blocking miss /
    // scored low / identical-surface trap / other), one count per bucket.
    // The pred/gold tables are derived deterministically from events so both
    // engines build identical inputs. ----
    "q31_error_analysis" -> ((s, d) => {
      val ev = t(s, d, "events")
      val k = from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k")
      val gold = ev.filter(col("event_id") % 7 === 0)
        .select(col("user_id").as("url_a"), col("event_id").as("url_b"),
          (col("value") > 50).cast("int").as("gold"))
      val preds = ev.filter(col("event_id") % 3 === 0)
        .select(col("user_id").as("url_a"), col("event_id").as("url_b"),
          (k > 50).as("is_match"),
          col("event_type").as("surface_a"),
          when(k % 2 === 0, col("event_type")).otherwise(lit("x")).as("surface_b"))
      graft.ops.Metrics.errorAnalysis(preds, gold)
    }),

    // ---- pairwise P/R/F1 evaluator (A7/A11/J9 — the BASELINE gate's own
    // metric function, reference evaluation_util.py:7-15): keyed alignment
    // join of predictions onto gold pairs (missing prediction = negative),
    // confusion sums, P/R/F1 per split. Same deterministic events-derived
    // pred/gold construction as q31. ----
    "q32_pairwise_f1" -> ((s, d) => {
      val ev = t(s, d, "events")
      val k = from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k")
      val gold = ev.filter(col("event_id") % 7 === 0)
        .select(col("user_id").as("url_a"), col("event_id").as("url_b"),
          (col("value") > 50).cast("int").as("gold"),
          when(col("event_id") % 2 === 0, "valid").otherwise("test").as("split"))
      val preds = ev.filter(col("event_id") % 3 === 0)
        .select(col("user_id").as("url_a"), col("event_id").as("url_b"),
          coalesce(k > 50, lit(false)).as("is_match"))
      graft.ops.Metrics.pairwiseF1(preds, gold)
        .select(col("split"), col("tp"), col("fp"), col("fn"), col("tn"),
          round(col("precision"), 6).as("precision"),
          round(col("recall"), 6).as("recall"),
          round(col("f1"), 6).as("f1"))
    }),

    // ---- string-similarity ensemble (§2.8 jaro_winkler + lev_ratio +
    // token_jaccard + the linear scorer's functional form) under a real
    // second engine: consecutive-doc pairs over ASCII-normalized text,
    // each kernel rounded then linearly combined — DuckDB replays lev/jac
    // with its own levenshtein / list-intersect Jaccard, and jw with a
    // recursive-CTE twin of the CLASSIC Jaro-Winkler (greedy in-window
    // matching, Winkler 0.7 boost threshold): DuckDB's native
    // jaro_winkler_similarity is rapidfuzz's bit-parallel variant whose
    // greedy matching (and so transposition count) diverges from the
    // published algorithm on repeated-character strings. ----
    "q33_string_sims" -> ((s, d) => {
      val n = t(s, d, "documents").select(col("doc_id"),
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " ").as("nt"))
      val a = n.select(col("doc_id").as("doc_a"),
        substring(col("nt"), 1, 48).as("sa"),
        substring(col("nt"), 1, 160).as("ta"))
      val b = n.select((col("doc_id") - 1).as("doc_a"),
        col("doc_id").as("doc_b"),
        substring(col("nt"), 1, 48).as("sb"),
        substring(col("nt"), 1, 160).as("tb"))
      a.join(b, "doc_a")
        .filter(length(col("sa")) > 0 && length(col("sb")) > 0)
        .select(col("doc_a"), col("doc_b"),
          round(graft.functions.jaro_winkler(col("sa"), col("sb")), 6).as("jw"),
          round(graft.functions.lev_ratio(col("sa"), col("sb")), 6).as("lev_r"),
          round(graft.functions.token_jaccard(col("ta"), col("tb")), 6).as("jac"))
        // floor-quantize, not round: the linear combination of three
        // already-rounded doubles can land exactly on a .5e-6 boundary,
        // where the two engines' round() implementations disagree in the
        // last digit; floor of the identical IEEE double is deterministic
        .withColumn("score", floor(
          (lit(0.4) * col("jw") + lit(0.3) * col("lev_r") + lit(0.3) * col("jac"))
            * lit(1e6)) / lit(1e6))
    }),

    // ---- stable keyed split (O2) portable twin: deterministic
    // train/valid assignment from the last hex digit of md5(key) — the
    // md5-portable analogue of GoldGen's xxhash64 split, hash-checked
    // against DuckDB's md5. ----
    "q34_stable_split" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        when(substring(md5(col("doc_id").cast("string")), 32, 1)
            .isin("0", "1", "2", "3", "4", "5"), "valid")
          .otherwise("test").as("split"))),

    // ---- URL canonicalization (P13) under a second engine: messy url
    // variants (scheme case, www, utm params, fragments, trailing slash,
    // relative pass-through) constructed deterministically from doc_id by
    // IDENTICAL string ops in both engines, then canonicalized by
    // Extract.canonicalUrl on the Spark side and an independent DuckDB
    // regexp replay on the oracle side. ----
    "q35_url_canonical" -> ((s, d) => {
      val m = pmod(col("doc_id"), lit(6))
      val h = concat(lit("h"), pmod(col("doc_id"), lit(13)).cast("string"),
        lit(".example/p/"), col("doc_id").cast("string"))
      val url = when(m === 0,
          concat(lit("http://www."), h, lit("/")))
        .when(m === 1, concat(lit("HTTP://H"),
          pmod(col("doc_id"), lit(13)).cast("string"),
          lit(".EXAMPLE/p/"), col("doc_id").cast("string")))
        .when(m === 2, concat(lit("https://"), h, lit("?q="),
          col("doc_id").cast("string"), lit("&utm_x=1&r=2#sec")))
        .when(m === 3, concat(lit("https://"), h, lit("?utm_a=1")))
        .when(m === 4, concat(lit("https://www."), h, lit("?utm_a=1&b=2")))
        .otherwise(concat(lit("/relative/p/"), col("doc_id").cast("string")))
      t(s, d, "documents").select(col("doc_id"), url.as("url"))
        .withColumn("canon", graft.ops.Extract.canonicalUrl(col("url")))
    }),

    // ---- Decontamination (training-data hygiene): flag training docs
    // sharing a word n-gram with the deterministic doc_id%50 "benchmark"
    // slice. n=4 because the synthetic vocabulary is tiny (real corpora use
    // 8..13); the n-gram expression is the g04-proven wordNgramSet. Eval
    // n-grams broadcast; the training side is scan+explode+hash-agg. ----
    "q36_decontamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val isEval = pmod(col("doc_id"), lit(50)) === 0
      graft.ops.TextOps.decontaminate(
        docs.filter(!isEval), docs.filter(isEval), n = 4)
    }),

    // embedding-cosine near-dup: the query runs the portable axis-sign-bucket
    // twin over the embeddings table (threshold 0.4 — isotropic noise, so
    // near-dup means "unusually close", ~7 pairs at sf0.01), hash-checked
    // end-to-end incl. CC. Bench overrides to the production hash_embed +
    // xxhash-sign-plane variant over planted document near-dups.
    "g11_emb_neardup" -> ((s, d) =>
      graft.ops.Portable.embeddingNearDupPortable(s, t(s, d, "embeddings"))),
    // the bucketed-ANN scale path with its own oracle row (round-4 advice):
    // write the embeddings table partitionBy(axis-sign bucket), then serve
    // the top-k probe from ONLY the query's bucket + hamming-1 neighbors via
    // a partition filter. DuckDB replays the identical probe as a
    // hamming<=1 bucket predicate over a full scan, so the pruned-partition
    // read path a 100-TB deployment queries is hash-checked, not just
    // pruning-asserted. (g12/g13 stay the production xxhash bench pair.)
    "g14_ann_bucketed_probe" -> ((s, d) =>
      graft.ops.Portable.axisBucketedTopK(
        s, portableBucketDir(s, d), queryVec(s, d), 10)))

  /** Shared state for bench-only cross-query reuse. g02 and g04 run the
    * identical minhash LSH candidate generation (same docs/id/text/seed) —
    * round 2 shared it by ACCIDENT (a leaked cache), round 3 recomputed it
    * twice; now a NearDupCorpus computes it once per (session, sfDir) and
    * the second consumer closes it. Bench also calls releaseBenchCaches()
    * at the end as a backstop for partial runs. */
  private val corpusCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Dedup.NearDupCorpus, java.util.concurrent.atomic.AtomicInteger)]()
  private def sharedCorpus(s: SparkSession, d: String): Dedup.NearDupCorpus =
    corpusCache.computeIfAbsent(d, _ => (
      new Dedup.NearDupCorpus(s, t(s, d, "documents")),
      new java.util.concurrent.atomic.AtomicInteger(2)))._1
  private def corpusConsumed(d: String): Unit = {
    val e = corpusCache.get(d)
    if (e != null && e._2.decrementAndGet() <= 0) {
      corpusCache.remove(d); e._1.close()
    }
  }
  def releaseBenchCaches(): Unit = {
    import scala.jdk.CollectionConverters._
    corpusCache.keySet().asScala.toList.foreach { d =>
      val e = corpusCache.remove(d); if (e != null) e._1.close()
    }
    annBucketDirs.keySet().asScala.toList.foreach { d =>
      val p = annBucketDirs.remove(d); if (p != null) deleteDir(p)
    }
    portableBucketDirs.keySet().asScala.toList.foreach { d =>
      val p = portableBucketDirs.remove(d); if (p != null) deleteDir(p)
    }
    incrBaseDirs.keySet().asScala.toList.foreach { d =>
      val p = incrBaseDirs.remove(d); if (p != null) deleteDir(p)
    }
    dedupStateDirs.keySet().asScala.toList.foreach { d =>
      val p = dedupStateDirs.remove(d); if (p != null) deleteDir(p)
    }
  }

  /** Post-timing hook: Bench calls this AFTER the timed action on each
    * override completes, so resource release (the shared near-dup corpus
    * handle) happens outside the measured window and the timed body performs
    * exactly one execution of the query (round-4 advice: the g02/g04
    * overrides used to count internally AND be counted again by Bench —
    * g04's second execution re-ran the whole band self-join uncached). */
  def benchQueryDone(name: String, sfDir: String): Unit = name match {
    case "g02_docs_minhash_neardup" | "g04_docs_ngram_neardup" =>
      corpusConsumed(sfDir)
    case "g12_ann_bucketed_write" =>
      import scala.jdk.CollectionConverters._
      staleBucketDirs.asScala.toList.foreach { p =>
        staleBucketDirs.remove(p); deleteDir(p)
      }
    case _ => ()
  }

  /** Directories replaced by a g12 re-write, deleted post-timing. */
  private val staleBucketDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def deleteDir(p: String): Unit =
    scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()

  /** Bucket-partitioned ANN table paths (written once per sfDir by the g12
    * bench entry; probed by g13). */
  private val annBucketDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def annBucketDir(s: SparkSession, d: String): String =
    annBucketDirs.computeIfAbsent(d, _ => {
      val path = java.nio.file.Files.createTempDirectory("graft-annbucket").toString
      Ann.writeBucketed(t(s, d, "embeddings"), path)
      path
    })

  /** Committed incremental-ER base state at bench scale, for the g15
    * override's timed attach: a bench-pages synthetic corpus written to
    * parquet plus a full pipeline run over its 98%-of-urls "base" slice
    * (keepBlockOverflow so cap re-entry is exact). Built once per session —
    * the one-off build lands in rep 1's wall and Bench's min-of-reps
    * reports the pure attach; deleted by releaseBenchCaches. */
  private val incrBaseDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Delta slice: 2% of urls (a daily-crawl-sized fraction). */
  private def incrIsDelta = pmod(xxhash64(col("url")), lit(100)) < 2
  private def incrParams: SynthParams = {
    val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAGES", "50000").toInt
    SynthParams(nPages = n, nEntities = math.max(200, n / 25))
  }
  private def incrBaseDir(s: SparkSession): String =
    incrBaseDirs.computeIfAbsent("incr", _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-incrbase").toString
      Synth.pages(s, incrParams).toDF()
        .write.mode("overwrite").parquet(s"$dir/pages.parquet")
      Pipeline.run(s,
        s.read.parquet(s"$dir/pages.parquet").filter(!incrIsDelta),
        Synth.dict(s, incrParams).toDF(),
        PipelineConfig(checkpointDir = s"$dir/base", runId = "incr_base",
          keepBlockOverflow = true))
      dir
    })

  /** Committed minhash dedup state at bench scale for the g16 override's
    * timed attach: the band index / edges / assignment of the 98%-of-doc_ids
    * base slice of the sfDir documents table, committed to parquet once per
    * (session, sfDir) — rep 1 pays the build, min-of-reps reports the pure
    * attach; deleted by releaseBenchCaches. */
  private val dedupStateDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Delta slice: 2% of doc_ids (a daily-crawl-sized fraction). */
  private def dedupIsDelta = pmod(xxhash64(col("doc_id")), lit(100)) < 2
  private def dedupStateDir(s: SparkSession, d: String): String =
    dedupStateDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-dedupstate").toString
      Dedup.commitDedupState(
        Dedup.minhashDedupState(s, t(s, d, "documents").filter(!dedupIsDelta)),
        dir)
      dir
    })

  /** Axis-sign bucket-partitioned table paths for the g14 portable probe
    * (written once per sfDir; deleted by releaseBenchCaches). */
  private val portableBucketDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def portableBucketDir(s: SparkSession, d: String): String =
    portableBucketDirs.computeIfAbsent(d, _ => {
      val path = java.nio.file.Files.createTempDirectory("graft-axisbucket").toString
      graft.ops.Portable.writeAxisBucketed(t(s, d, "embeddings"), path)
      path
    })

  /** Bench-only substitutions: for the flagship + near-dup/ANN names whose
    * `queries` entry is the oracle-portable md5 twin, Bench measures the
    * PRODUCTION variant (the full entry() pipeline / xxhash64 minhash /
    * custom simhash kernel / hash_embed sign planes / multi-probe LSH) under
    * the same query name — the hot path a deployment runs, and the series
    * BENCH_r01-r03 measured. Same dataflow shape, different hash kernel;
    * correctness of the timed path: g02/g04 prod == twin EXACTLY on sf0.01
    * (ProdTwinAgreementSpec), g01 by the F1 gate, g03/g11 by DedupSpec's
    * planted-duplicate pins. g12/g13 are bench-only scale-path entries with
    * no `queries` twin (see their comment). */
  def benchOverrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g01_er_clusters" -> ((s, _) => entry(s)),
    // g02/g04 release the shared corpus handle via benchQueryDone (Bench's
    // post-timing hook), NOT inside the timed body: exactly one execution
    // per timed rep, with the candidate cache still open when Bench counts.
    "g02_docs_minhash_neardup" -> ((s, d) => sharedCorpus(s, d).minhash()),
    "g03_docs_simhash_neardup" -> ((s, d) =>
      Dedup.simhashNearDup(s, t(s, d, "documents"))),
    "g04_docs_ngram_neardup" -> ((s, d) => sharedCorpus(s, d).ngram()),
    "g05_emb_lsh_topk" -> ((s, d) =>
      Ann.lshTopK(t(s, d, "embeddings"), queryVec(s, d), 10)),
    "g11_emb_neardup" -> ((s, d) =>
      Dedup.embeddingNearDup(s,
        t(s, d, "documents").select(col("doc_id").as("vec_id"),
          graft.functions.hash_embed(col("text"), 256, 42L).as("embedding")),
        threshold = 0.9)),
    // bench-only scale-path entries (no correctness row of their own; the
    // probe SEMANTICS are oracle-checked by g05 and pruning is asserted by
    // AnnTextOpsSpec): g12 times the one-off bucket-partitioned WRITE of the
    // embeddings table, g13 the partition-pruned multi-probe top-k read —
    // the pair that replaces a full O(n) scan per query at 100 TB.
    "g12_ann_bucketed_write" -> ((s, d) => {
      // re-write every invocation: this IS the timed op. The PREVIOUS rep's
      // directory is deleted post-timing (benchQueryDone stages it below) so
      // reps neither accumulate bucketed copies nor pay filesystem deletion
      // inside the measured window.
      val prev = annBucketDirs.remove(d)
      if (prev != null) staleBucketDirs.add(prev)
      s.read.parquet(annBucketDir(s, d)).groupBy("bucket")
        .agg(count(lit(1)).as("n_vecs"))
    }),
    "g13_ann_bucketed_topk" -> ((s, d) =>
      Ann.lshTopKBucketed(s, annBucketDir(s, d), queryVec(s, d), 10)),
    // g16 bench: the PRODUCTION incremental near-dup attach
    // (Dedup.minhashNearDupAttach, xxhash kernel) of a 2%-of-doc_ids delta
    // against the committed parquet dedup state over the sfDir documents
    // table — the operation a deployment runs when a crawl delta lands,
    // directly comparable to g02 (the full re-dedup of the same corpus).
    // The `queries` g16 stays the oracle-portable md5 incremental twin
    // (hash-checked against the full-batch g02 SQL); the production algebra
    // is pinned exact by DedupIncrementalSpec (attach == batch, incl. the
    // cap-crossing survivor branch and attach∘attach composition). The
    // one-off state build lands in rep 1's wall (computeIfAbsent); min-of-
    // reps reports the pure attach.
    "g16_incremental_neardup" -> ((s, d) => {
      val state = Dedup.dedupStateFromDir(s, dedupStateDir(s, d))
      Dedup.minhashNearDupAttach(s, state, t(s, d, "documents"),
        t(s, d, "documents").filter(dedupIsDelta)).dups
    }),
    // g17 bench: the PRODUCTION incremental DELETE against the same
    // committed state as g16 — detaches a 2%-of-doc_ids slice OF THE BASE
    // (hash bucket [2,4), disjoint from g16's delta bucket [0,2), so both
    // overrides share one state build per session).
    "g17_incremental_neardup_delete" -> ((s, d) => {
      val state = Dedup.dedupStateFromDir(s, dedupStateDir(s, d))
      val detachSlice = pmod(xxhash64(col("doc_id")), lit(100)) >= 2 &&
        pmod(xxhash64(col("doc_id")), lit(100)) < 4
      Dedup.minhashNearDupDetach(s, state,
        t(s, d, "documents").filter(!dedupIsDelta && !detachSlice),
        t(s, d, "documents").filter(!dedupIsDelta && detachSlice)
          .select(col("doc_id"))).dups
    }),
    // g15 bench: the PRODUCTION incremental attach (ops/Incremental.attach,
    // xxhash/ensemble path) of a 2%-of-urls delta against the committed
    // bench-scale base state — the operation a deployment runs when a crawl
    // delta lands, directly comparable to er_pipeline (the full re-run over
    // the same corpus size). The `queries` g15 stays the oracle-portable
    // incremental twin; the production algebra is pinned exact by
    // IncrementalSpec (attach == full recompute, incl. cap re-entry).
    "g15_incremental_er" -> ((s, _) => {
      val dir = incrBaseDir(s)
      val base = Incremental.stateFromCheckpoint(s, s"$dir/base")
      Incremental.attach(s, base,
        s.read.parquet(s"$dir/pages.parquet").filter(incrIsDelta),
        Synth.dict(s, incrParams).toDF(),
        PipelineConfig(checkpointDir = s"$dir/base", runId = "incr_attach",
          keepBlockOverflow = true)).clusters
    }),
    // g18 bench: the PRODUCTION incremental ER DELETE (Incremental.detach)
    // of a 2%-of-urls takedown batch against the SAME committed base state
    // g15 attaches to (hash bucket [2,4) of the base's urls, disjoint from
    // g15's delta bucket [0,2), so both overrides share one base build).
    "g18_incremental_er_delete" -> ((s, _) => {
      val dir = incrBaseDir(s)
      val base = Incremental.stateFromCheckpoint(s, s"$dir/base")
      val slice = pmod(xxhash64(col("url")), lit(100)) >= 2 &&
        pmod(xxhash64(col("url")), lit(100)) < 4
      Incremental.detach(s, base,
        base.pages.filter(slice).select("url").distinct(),
        Synth.dict(s, incrParams).toDF(),
        PipelineConfig(checkpointDir = s"$dir/base", runId = "incr_detach",
          keepBlockOverflow = true)).clusters
    }))

  /** Shared oracle-SQL fragments for the portable near-dup family: md5
    * minhash-LSH candidates (16 hashes, 8 bands x 2 rows, bucket cap 256)
    * over a `sets(doc_id, sh)` CTE, exact set-Jaccard verification, and CC
    * via a recursive-CTE transitive closure — the independent re-derivation
    * of Clustering.connectedComponents' min-label semantics. */
  private def ccTailSql(outId: String): String =
    s"""und AS (SELECT id_a AS u, id_b AS v FROM ver UNION SELECT id_b, id_a FROM ver),
       reach AS (SELECT u, v FROM und
         UNION SELECT r.u, d.v FROM reach r JOIN und d ON r.v = d.u WHERE d.v <> r.u)
       SELECT u AS $outId, min(v) AS dup_of FROM reach GROUP BY u HAVING min(v) < u"""

  private def md5NearDupSql(setCtes: String, threshold: String): String =
    s"""WITH RECURSIVE $setCtes,
       sig AS (SELECT doc_id, list_transform(range(0, 16), h ->
           list_aggregate(list_transform(sh, s -> md5(s || ':' || h)), 'min')) AS sig
         FROM sets),
       bands AS (SELECT doc_id, 'b' || b || '|' || sig[2*b+1] || '|' || sig[2*b+2] AS bucket
         FROM sig CROSS JOIN (SELECT unnest(range(0,8)) AS b)),
       sized AS (SELECT bucket FROM bands GROUP BY bucket HAVING count(*) > 1 AND count(*) <= 256),
       cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN sized s ON a.bucket = s.bucket
         JOIN bands b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
       ver AS (SELECT id_a, id_b FROM cand
         JOIN sets sa ON sa.doc_id = cand.id_a
         JOIN sets sb ON sb.doc_id = cand.id_b
         WHERE cast(len(list_intersect(sa.sh, sb.sh)) as double) /
               cast(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) as double) >= $threshold),
       ${ccTailSql("doc_id")}"""

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. g01's oracle reads the flagship fixture that
    * graft.Verify dumps to parquet (the `__FIXTURE_DIR__` placeholder is
    * substituted with the dump path when Verify writes oracle_sql.json), so
    * every queries entry now has an oracle row. */
  /** Full-batch portable-twin replay over the flagship fixture: the
    * oracle for BOTH g01 (batch twin) and g15 (incremental twin — the
    * attach algebra must reproduce the batch result exactly). */
  /** g18's oracle is the SAME full-batch replay restricted to the urls that
    * survive the delete — the detach twin must reproduce it exactly. */
  private lazy val erTwinDetachSql: String = erTwinBatchSql(
    " WHERE substring(md5(url), 1, 1) NOT IN ('c','d','e','f')")

  private lazy val erTwinFullBatchSql: String = erTwinBatchSql("")

  private def erTwinBatchSql(pagesWhere: String): String =
      s"""WITH RECURSIVE pages AS (
           SELECT * FROM read_parquet('__FIXTURE_DIR__/pages.parquet/*.parquet')$pagesWhere),
         dict AS (SELECT * FROM read_parquet('__FIXTURE_DIR__/dict.parquet/*.parquet')),
         ok AS (
           SELECT url, text FROM (
             SELECT url, html, text, lang, row_number() OVER (
               PARTITION BY url ORDER BY warc_ts DESC, md5(decode(html)) ASC) AS rn
             FROM pages)
           WHERE rn = 1 AND lang = 'en'
             AND md5(regexp_extract(decode(html), '<p>(.*)</p>', 1)) = md5(text)),
         men AS (
           SELECT DISTINCT url, regexp_replace(lower(surface), '[^a-z0-9]+', '', 'g') AS nk
           FROM (SELECT url, unnest(regexp_extract_all(text,
                   '[A-Z][A-Za-z0-9]*( [A-Z][A-Za-z0-9]*)*')) AS surface FROM ok)
           WHERE length(surface) >= 2),
         dictblk AS (
           SELECT 'e:' || d.entity_id AS bucket, m.url AS id
           FROM men m JOIN (SELECT entity_id, unnest(keys) AS nk FROM dict) d USING (nk)),
         sets AS (SELECT url, CASE WHEN length(nk) < 3 THEN [nk]
             ELSE list_distinct(list_transform(range(1, length(nk) - 1),
                    i -> substring(nk, i, 3))) END AS sh
           FROM men),
         sig AS (SELECT url, list_transform(range(0, 16), h ->
             list_aggregate(list_transform(sh, s -> md5(s || ':' || h)), 'min')) AS sig
           FROM sets),
         lshblk AS (SELECT 'b' || b || '|' || sig[2*b+1] || '|' || sig[2*b+2] AS bucket, url AS id
           FROM sig CROSS JOIN (SELECT unnest(range(0,8)) AS b)),
         blocks AS (SELECT DISTINCT bucket, id FROM
           (SELECT * FROM dictblk UNION ALL SELECT * FROM lshblk)),
         sized AS (SELECT bucket FROM blocks GROUP BY bucket
           HAVING count(*) > 1 AND count(*) <= 256),
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM blocks a JOIN sized s ON a.bucket = s.bucket
           JOIN blocks b ON a.bucket = b.bucket AND a.id < b.id),
         toks AS (SELECT url, list_distinct(list_filter(
             regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS tk
           FROM ok),
         ver AS (SELECT id_a, id_b FROM cand
           JOIN toks ta ON ta.url = cand.id_a
           JOIN toks tb ON tb.url = cand.id_b
           WHERE len(list_intersect(ta.tk, tb.tk)) >= 3),
         und AS (SELECT id_a AS u, id_b AS v FROM ver UNION SELECT id_b, id_a FROM ver),
         reach AS (SELECT u, v FROM und
           UNION SELECT r.u, d.v FROM reach r JOIN und d ON r.v = d.u WHERE d.v <> r.u),
         cc AS (SELECT u, min(v) AS cluster_id FROM reach GROUP BY u HAVING min(v) < u)
         SELECT cluster_id, count(*) + 1 AS cluster_size FROM cc GROUP BY cluster_id"""

  def oracleSql: Map[String, String] = Map(
    // the full portable ER pipeline rebuilt in SQL: snapshot window → md5
    // extraction invariant → regexp mention extraction → dict-join + md5
    // minhash-LSH blocking (capped) → within-block pairs → distinct-token
    // overlap scoring → recursive-CTE connected components → cluster sizes
    "g01_er_clusters" -> erTwinFullBatchSql,
    // the incremental attach (g15) must equal the full batch over the
    // same fixture, so its oracle replay is the SAME full-batch twin SQL
    "g15_incremental_er" -> erTwinFullBatchSql,
    "g18_incremental_er_delete" -> erTwinDetachSql,
    "q32_pairwise_f1" ->
      """WITH ev AS (SELECT user_id, event_id, value,
           try_cast(json_extract_string(props, '$.k') as int) AS k FROM events),
         gold AS (SELECT user_id AS url_a, event_id AS url_b,
             CASE WHEN value > 50 THEN 1 ELSE 0 END AS gold,
             CASE WHEN event_id % 2 = 0 THEN 'valid' ELSE 'test' END AS split
           FROM ev WHERE event_id % 7 = 0),
         preds AS (SELECT user_id AS url_a, event_id AS url_b,
             CASE WHEN k > 50 THEN 1 ELSE 0 END AS pred
           FROM ev WHERE event_id % 3 = 0),
         j AS (SELECT g.split, g.gold, coalesce(p.pred, 0) AS pred
           FROM gold g LEFT JOIN preds p USING (url_a, url_b)),
         c AS (SELECT split,
             cast(sum(CASE WHEN pred=1 AND gold=1 THEN 1 ELSE 0 END) as bigint) AS tp,
             cast(sum(CASE WHEN pred=1 AND gold=0 THEN 1 ELSE 0 END) as bigint) AS fp,
             cast(sum(CASE WHEN pred=0 AND gold=1 THEN 1 ELSE 0 END) as bigint) AS fn,
             cast(sum(CASE WHEN pred=0 AND gold=0 THEN 1 ELSE 0 END) as bigint) AS tn
           FROM j GROUP BY split),
         pr AS (SELECT split, tp, fp, fn, tn,
             CASE WHEN tp+fp = 0 THEN 0.0 ELSE cast(tp as double)/(tp+fp) END AS p,
             CASE WHEN tp+fn = 0 THEN 0.0 ELSE cast(tp as double)/(tp+fn) END AS r
           FROM c)
         SELECT split, tp, fp, fn, tn,
           round(p, 6) AS precision, round(r, 6) AS recall,
           round(CASE WHEN p + r = 0.0 THEN 0.0 ELSE 2.0*p*r/(p+r) END, 6) AS f1
         FROM pr""",
    "q31_error_analysis" ->
      """WITH ev AS (SELECT user_id, event_id, value, event_type,
           try_cast(json_extract_string(props, '$.k') as int) AS k FROM events),
         gold AS (SELECT user_id AS url_a, event_id AS url_b,
             CASE WHEN value > 50 THEN 1 ELSE 0 END AS gold
           FROM ev WHERE event_id % 7 = 0),
         preds AS (SELECT user_id AS url_a, event_id AS url_b,
             CASE WHEN k > 50 THEN 1 WHEN k <= 50 THEN 0 ELSE NULL END AS pred,
             event_type AS surface_a,
             CASE WHEN k % 2 = 0 THEN event_type ELSE 'x' END AS surface_b
           FROM ev WHERE event_id % 3 = 0),
         j AS (SELECT g.gold, p.pred, p.surface_a, p.surface_b
           FROM gold g LEFT JOIN preds p USING (url_a, url_b))
         SELECT cause, count(*) AS n FROM (
           SELECT CASE WHEN gold = 1 AND pred IS NULL THEN 'fn_no_candidate'
                       WHEN gold = 1 AND pred = 0 THEN 'fn_scored_low'
                       WHEN gold = 0 AND pred = 1 AND surface_a = surface_b
                         THEN 'fp_identical_surface'
                       WHEN gold = 0 AND pred = 1 THEN 'fp_other'
                  END AS cause FROM j)
         WHERE cause IS NOT NULL GROUP BY cause ORDER BY cause""",
    // The jw column is replayed by a RECURSIVE-CTE implementation of the
    // CLASSIC published Jaro-Winkler (greedy in-window matching + the
    // Winkler 0.7-threshold prefix boost) — DuckDB's native
    // jaro_winkler_similarity is rapidfuzz's bit-parallel variant, which
    // produces different greedy matchings (hence different transposition
    // counts) on strings with repeated characters, so the portable twin
    // pins our kernel to the published algorithm instead (same pattern as
    // the g03 simhash CTE).
    "q33_string_sims" ->
      """WITH RECURSIVE n AS (SELECT doc_id,
           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g') AS nt
         FROM documents),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             substring(a.nt, 1, 48) AS sa, substring(b.nt, 1, 48) AS sb,
             substring(a.nt, 1, 160) AS ta, substring(b.nt, 1, 160) AS tb
           FROM n a JOIN n b ON b.doc_id = a.doc_id + 1
           WHERE len(substring(a.nt, 1, 48)) > 0
             AND len(substring(b.nt, 1, 48)) > 0),
         jm AS (
           SELECT doc_a, sa, sb,
             greatest(0, greatest(len(sa), len(sb)) // 2 - 1) AS md,
             0 AS i, 0::BIGINT AS bm, '' AS am, 0 AS m
           FROM p
           UNION ALL
           SELECT doc_a, sa, sb, md, i + 1 AS i,
             CASE WHEN j IS NULL THEN bm
                  ELSE bm | (1::BIGINT << (j - 1)::int) END AS bm,
             CASE WHEN j IS NULL THEN am
                  ELSE am || substring(sa, i + 1, 1) END AS am,
             m + CASE WHEN j IS NULL THEN 0 ELSE 1 END AS m
           FROM (
             SELECT doc_a, sa, sb, md, i, bm, am, m,
               list_min(list_filter(
                 range(greatest(1, i + 1 - md)::bigint,
                       least(i + 1 + md + 1, len(sb) + 1)::bigint),
                 jj -> substring(sb, jj::int, 1) = substring(sa, i + 1, 1)
                       AND (bm >> (jj - 1)::int) & 1 = 0)) AS j
             FROM jm WHERE i < len(sa)) s),
         fin AS (SELECT doc_a, sa, sb, bm, am, m FROM jm WHERE i = len(sa)),
         tr AS (SELECT doc_a, sa, sb, m, am,
             array_to_string(list_transform(
               list_filter(range(1::bigint, (len(sb) + 1)::bigint),
                 j -> (bm >> (j - 1)::int) & 1 = 1),
               j -> substring(sb, j::int, 1)), '') AS bs
           FROM fin),
         jr AS (SELECT doc_a, m, sa, sb,
             len(list_filter(range(1::bigint, (m + 1)::bigint),
               k -> substring(am, k::int, 1) <> substring(bs, k::int, 1))) AS t
           FROM tr),
         jjj AS (SELECT doc_a, sa, sb,
             CASE WHEN sa = sb THEN 1.0
                  WHEN m = 0 THEN 0.0
                  ELSE (m::double / len(sa) + m::double / len(sb)
                        + (m::double - t / 2.0) / m) / 3.0 END AS jaro
           FROM jr),
         jwt AS (SELECT doc_a,
             round(CASE WHEN jaro <= 0.7 THEN jaro
               ELSE jaro + (coalesce(list_min(list_filter(
                 range(1::bigint, (least(4, len(sa), len(sb)) + 1)::bigint),
                 k -> substring(sa, k::int, 1) <> substring(sb, k::int, 1))),
                 (least(4, len(sa), len(sb)) + 1)::bigint) - 1)
                 * 0.1 * (1.0 - jaro) END, 6) AS jw
           FROM jjj),
         tok AS (SELECT doc_a, doc_b, sa, sb,
             list_distinct(list_filter(string_split(ta, ' '), x -> x <> '')) AS la,
             list_distinct(list_filter(string_split(tb, ' '), x -> x <> '')) AS lb
           FROM p),
         f AS (SELECT doc_a, doc_b, jw,
             round(1.0 - levenshtein(sa, sb)::double
               / greatest(len(sa), len(sb)), 6) AS lev_r,
             round(CASE WHEN len(la) + len(lb) = 0 THEN 1.0
               ELSE len(list_intersect(la, lb))::double
                 / (len(la) + len(lb) - len(list_intersect(la, lb))) END, 6) AS jac
           FROM tok JOIN jwt USING (doc_a))
         SELECT doc_a, doc_b, jw, lev_r, jac,
           floor((0.4*jw + 0.3*lev_r + 0.3*jac) * 1e6) / 1e6 AS score
         FROM f""",
    "q34_stable_split" ->
      """SELECT doc_id,
           CASE WHEN substring(md5(doc_id::varchar), 32, 1)
                  IN ('0','1','2','3','4','5') THEN 'valid'
                ELSE 'test' END AS split
         FROM documents""",
    "q36_decontamination" ->
      """WITH tk AS (SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
         FROM documents),
         ng AS (SELECT doc_id, unnest(
           CASE WHEN len(t) < 4 THEN [array_to_string(t, ' ')]
                ELSE list_distinct(list_transform(range(1, len(t) - 2),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) END) AS ng
         FROM tk),
         ev AS (SELECT doc_id AS eval_id, ng FROM ng WHERE doc_id % 50 = 0),
         tr AS (SELECT doc_id, ng FROM ng WHERE doc_id % 50 <> 0)
         SELECT tr.doc_id, count(DISTINCT ev.eval_id) AS n_eval_docs,
                count(DISTINCT tr.ng) AS n_shared_ngrams
         FROM tr JOIN ev USING (ng) GROUP BY tr.doc_id""",
    "q35_url_canonical" ->
      """WITH u AS (SELECT doc_id,
           CASE doc_id % 6
             WHEN 0 THEN 'http://www.h' || (doc_id % 13)::varchar ||
               '.example/p/' || doc_id::varchar || '/'
             WHEN 1 THEN 'HTTP://H' || (doc_id % 13)::varchar ||
               '.EXAMPLE/p/' || doc_id::varchar
             WHEN 2 THEN 'https://h' || (doc_id % 13)::varchar ||
               '.example/p/' || doc_id::varchar || '?q=' ||
               doc_id::varchar || '&utm_x=1&r=2#sec'
             WHEN 3 THEN 'https://h' || (doc_id % 13)::varchar ||
               '.example/p/' || doc_id::varchar || '?utm_a=1'
             WHEN 4 THEN 'https://www.h' || (doc_id % 13)::varchar ||
               '.example/p/' || doc_id::varchar || '?utm_a=1&b=2'
             ELSE '/relative/p/' || doc_id::varchar
           END AS url
         FROM documents),
         s1 AS (SELECT doc_id, url,
           lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) ||
           regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$', 1) AS h
         FROM u),
         s2 AS (SELECT doc_id, url, regexp_replace(h, '^http://', 'https://') AS h FROM s1),
         s3 AS (SELECT doc_id, url, regexp_replace(h, '^(https://)www\.', '\1') AS h FROM s2),
         s4 AS (SELECT doc_id, url, regexp_replace(h, '#.*$', '') AS h FROM s3),
         s5 AS (SELECT doc_id, url, regexp_replace(h, '([?&])utm_[^&#]*', '\1', 'g') AS h FROM s4),
         s6 AS (SELECT doc_id, url, regexp_replace(h, '&{2,}', '&', 'g') AS h FROM s5),
         s7 AS (SELECT doc_id, url,
           regexp_replace(regexp_replace(h, '\?&', '?'), '[?&]+$', '') AS h FROM s6),
         s8 AS (SELECT doc_id, url, regexp_replace(h, '(://[^/?#]+.+?)/+$', '\1') AS h FROM s7)
         SELECT doc_id, url,
           CASE WHEN regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://') = ''
                THEN url ELSE h END AS canon
         FROM s8""",
    "g02_docs_minhash_neardup" -> md5NearDupSql(
      """sets AS (SELECT doc_id,
           CASE WHEN length(lower(text)) < 5 THEN [lower(text)]
                ELSE list_distinct(list_transform(range(1, length(lower(text)) - 3),
                       i -> substring(lower(text), i, 5))) END AS sh
         FROM documents)""", "0.8"),
    // the incremental near-dup attach (g16) must equal the full batch over
    // the same table, so its oracle replay is the SAME g02 full-batch SQL
    "g16_incremental_neardup" -> md5NearDupSql(
      """sets AS (SELECT doc_id,
           CASE WHEN length(lower(text)) < 5 THEN [lower(text)]
                ELSE list_distinct(list_transform(range(1, length(lower(text)) - 3),
                       i -> substring(lower(text), i, 5))) END AS sh
         FROM documents)""", "0.8"),
    // the incremental DELETE (g17) must equal the full batch over the
    // post-delete corpus, so its oracle is the g02 SQL with the deleted md5
    // slice filtered out of the sets CTE (same split predicate as the
    // Spark side: first hex digit of md5(doc_id) in c..f)
    "g17_incremental_neardup_delete" -> md5NearDupSql(
      """sets AS (SELECT doc_id,
           CASE WHEN length(lower(text)) < 5 THEN [lower(text)]
                ELSE list_distinct(list_transform(range(1, length(lower(text)) - 3),
                       i -> substring(lower(text), i, 5))) END AS sh
         FROM documents
         WHERE substring(md5(cast(doc_id AS varchar)), 1, 1) NOT IN ('c','d','e','f'))""",
      "0.8"),
    "g04_docs_ngram_neardup" -> md5NearDupSql(
      """tk AS (SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
         FROM documents),
         sets AS (SELECT doc_id,
           CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                ELSE list_distinct(list_transform(range(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS sh
         FROM tk)""", "0.7"),
    "g03_docs_simhash_neardup" ->
      s"""WITH RECURSIVE tk AS (
           SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS t
           FROM documents),
         th AS (SELECT doc_id,
             list_transform(t, x -> ('0x' || substring(md5(x), 1, 15))::BIGINT) AS hs
           FROM tk),
         sim AS (SELECT doc_id,
             list_sum(list_transform(range(0, 60), b ->
               CASE WHEN list_sum(list_transform(hs, h ->
                      CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (1::BIGINT << b) ELSE 0 END))::BIGINT AS sh
           FROM th),
         bands AS (SELECT doc_id, sh, 'b' || b || ':' || ((sh >> (b * 15)) & 32767) AS bucket
           FROM sim CROSS JOIN (SELECT unnest(range(0,4)) AS b)),
         sized AS (SELECT bucket FROM bands GROUP BY bucket HAVING count(*) > 1 AND count(*) <= 256),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sha, b.sh AS shb
           FROM bands a JOIN sized s ON a.bucket = s.bucket
           JOIN bands b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
         ver AS (SELECT id_a, id_b FROM cand WHERE bit_count(xor(sha, shb)) <= 3),
         ${ccTailSql("doc_id")}""",
    "g11_emb_neardup" ->
      s"""WITH RECURSIVE b AS (
           SELECT vec_id, cast(embedding as double[]) AS e,
             array_to_string(list_transform(embedding[1:6],
               x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
           FROM embeddings),
         sized AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) > 1 AND count(*) <= 256),
         ver AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b
           FROM b a JOIN sized s ON a.bucket = s.bucket
           JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
           WHERE list_cosine_similarity(a.e, c.e) >= 0.4),
         ${ccTailSql("vec_id")}""",
    "g05_emb_lsh_topk" ->
      """WITH q AS (SELECT cast(embedding as double[]) AS qv,
           list_position(embedding[1:8], list_aggregate(embedding[1:8], 'max')) AS qb
         FROM embeddings ORDER BY vec_id LIMIT 1)
         SELECT vec_id,
           round(list_cosine_similarity(cast(embedding as double[]), (SELECT qv FROM q)), 6) AS cos
         FROM embeddings
         WHERE list_position(embedding[1:8], list_aggregate(embedding[1:8], 'max')) = (SELECT qb FROM q)
         ORDER BY cos DESC, vec_id ASC LIMIT 10""",
    // independent replay of the partition-pruned probe: the same axis-sign
    // bucket and the same (query-bucket + hamming-1) probe set, expressed as
    // a bucket predicate over a full scan — semantically identical to the
    // Spark side's isin partition filter over the bucketed table
    "g14_ann_bucketed_probe" ->
      """WITH q AS (SELECT cast(embedding as double[]) AS qv,
           'b' || array_to_string(list_transform(embedding[1:6],
             x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS qb
         FROM embeddings ORDER BY vec_id LIMIT 1),
         b AS (SELECT vec_id, cast(embedding as double[]) AS e,
           'b' || array_to_string(list_transform(embedding[1:6],
             x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
         FROM embeddings)
         SELECT vec_id,
           round(list_cosine_similarity(e, qv), 6) AS cos
         FROM b CROSS JOIN q
         WHERE len(list_filter(range(2, 8), i ->
           substring(bucket, i, 1) <> substring(qb, i, 1))) <= 1
         ORDER BY cos DESC, vec_id ASC LIMIT 10""",
    "g08_multimodal_features" ->
      """SELECT doc_id,
         cast(octet_length(text::BLOB) as bigint) AS media_size_bytes,
         cast(('0x' || substring(md5(text), 1, 8))::BIGINT % 1920 + 64 as int) AS width,
         cast(('0x' || substring(md5(text), 9, 8))::BIGINT % 1080 + 64 as int) AS height,
         CASE WHEN length(text) % 3 = 0 THEN 'image/jpeg'
              WHEN length(text) % 3 = 1 THEN 'image/png'
              ELSE 'application/octet-stream' END AS format,
         sha256(text) AS payload_sha,
         cast(64 as int) AS feature_dim
         FROM documents""",
    "g10_seeded_sample" ->
      """WITH h AS (SELECT l_returnflag, l_orderkey,
           substring(md5(concat_ws(':', 1234, l_orderkey, l_linenumber)), 1, 4) AS hk,
           md5(concat_ws(':', 777, l_orderkey, l_linenumber)) AS pk
         FROM lineitem),
         frac AS (SELECT l_returnflag, count(*) AS n_sampled FROM h WHERE hk < '1999' GROUP BY 1),
         strat AS (SELECT l_returnflag, count(*) AS n_stratified FROM h
           WHERE hk < (CASE l_returnflag WHEN 'R' THEN '8000' WHEN 'A' THEN '4000' ELSE '1999' END)
           GROUP BY 1),
         perm AS (SELECT l_returnflag, arg_min(l_orderkey, pk) AS perm_first FROM h GROUP BY 1)
         SELECT f.l_returnflag, n_sampled, n_stratified, perm_first
         FROM frac f LEFT JOIN strat USING (l_returnflag) LEFT JOIN perm USING (l_returnflag)""",
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
         cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
         cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_price,
         cast(sum(cast(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,4))) as double) AS sum_disc_price,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
         cast(cast(cast(l_extendedprice as decimal(18,2)) * cast(l_discount as decimal(18,2)) as decimal(28,4)) as double) AS disc_amount
         FROM lineitem
         WHERE l_shipdate >= timestamp '1995-01-01' AND l_discount > 0.05 AND l_quantity < 25""",
    "q03_join_broadcast" ->
      """SELECT c_mktsegment,
         cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS segment_revenue,
         count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "q04_semi_join" ->
      """SELECT c_nationkey, count(*) AS n_customers_with_orders
         FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY c_nationkey""",
    "q05_anti_join" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "q06_outer_join_nullfill" ->
      """SELECT n_nationkey, n_name, coalesce(r_name, 'UNKNOWN') AS region_name
         FROM nation LEFT JOIN region ON n_regionkey = r_regionkey""",
    "q07_multi_join" ->
      """SELECT n_name,
         cast(sum(cast(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,4))) as double) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",
    "q08_agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
         count(DISTINCT l_suppkey) AS n_suppliers
         FROM lineitem GROUP BY l_returnflag""",
    "q09_conditional_agg" ->
      """SELECT
         cast(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) as bigint) AS n_f,
         cast(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) as bigint) AS n_o,
         cast(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) as bigint) AS n_p
         FROM orders""",
    "q10_having" ->
      """SELECT l_suppkey, count(*) AS n_items FROM lineitem
         GROUP BY l_suppkey HAVING count(*) > 400""",
    "q11_collect_agg" ->
      """SELECT n_regionkey,
         array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations,
         array_to_string(list_sort(list(n_name)), ',') AS nations_all,
         count(*) AS n_nations
         FROM nation GROUP BY n_regionkey""",
    "q12_window_topn" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
           SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) WHERE rn <= 2""",
    "q13_window_running" ->
      """SELECT event_id, user_id,
         round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
         FROM events""",
    "q14_window_lag" ->
      """SELECT event_id, user_id,
         coalesce(lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 'NONE') AS prev_type
         FROM events""",
    "q15_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50""",
    "q16_setops" ->
      """SELECT o_custkey, 'both' AS kind FROM
           (SELECT o_custkey FROM orders WHERE o_orderstatus='F'
            INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus='O')
         UNION ALL
         SELECT o_custkey, 'f_only' AS kind FROM
           (SELECT o_custkey FROM orders WHERE o_orderstatus='F'
            EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus='O')""",
    "q17_array_setops" ->
      """SELECT o_custkey,
         coalesce(array_to_string(list_sort(list_intersect(prio, ['1-URGENT','2-HIGH'])), ','), '') AS urgent_prios,
         coalesce(array_to_string(list_sort(list_filter(prio, x -> NOT list_contains(['1-URGENT','2-HIGH'], x))), ','), '') AS other_prios,
         length(prio) AS n_prios
         FROM (SELECT o_custkey, list(DISTINCT o_orderpriority) AS prio
               FROM orders GROUP BY o_custkey)""",
    "q18_string_funcs" ->
      """SELECT p_partkey, lower(p_name) AS name_lower, length(p_name) AS name_len,
         substring(p_name, 1, 5) AS name_prefix,
         regexp_replace(lower(p_name), '[aeiou]', '', 'g') AS name_novowel
         FROM part""",
    "q19_docs_exact_dedup" ->
      """SELECT min(doc_id) AS doc_id, md5(text) AS text_hash, count(*) AS dup_count
         FROM documents GROUP BY md5(text)""",
    "q20_docs_token_stats" ->
      """SELECT doc_id,
         length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         length(text) AS n_chars_actual
         FROM documents""",
    "q21_docs_quality" ->
      """SELECT doc_id, n_tokens, round(alpha_ratio, 6) AS alpha_ratio,
           round((CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.25 ELSE 0 END +
            CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0 END +
            CASE WHEN alpha_ratio >= 0.5 THEN 0.25 ELSE 0 END +
            CASE WHEN stop_ratio >= 0.05 THEN 0.25 ELSE 0 END), 2) AS quality_score
         FROM (
           SELECT doc_id,
             length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
             CASE WHEN length(regexp_split_to_array(trim(text), '\s+')) = 0 THEN 0.0
               ELSE cast(length(regexp_replace(text, '\s+', '', 'g')) as double) /
                    cast(length(regexp_split_to_array(trim(text), '\s+')) as double) END AS mean_word_len,
             CASE WHEN length(text) = 0 THEN 0.0
               ELSE cast(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) as double) /
                    cast(length(text) as double) END AS alpha_ratio,
             CASE WHEN length(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> ''))) = 0 THEN 0.0
               ELSE cast(length(list_intersect(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')),
                      ['the','of','and','to','in','a','is','that','it','was','for','on','with','as','at','by','be','this','are','or'])) as double) /
                    cast(least(length(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> ''))), 20) as double) END AS stop_ratio
           FROM documents)""",
    "q22_docs_lang_dist" ->
      """SELECT lang, count(*) AS n_docs, cast(sum(n_chars) as bigint) AS total_chars
         FROM documents GROUP BY lang""",
    "q23_emb_stats" ->
      """SELECT label, count(*) AS n_vecs,
         min(length(embedding)) AS min_dim, max(length(embedding)) AS max_dim
         FROM embeddings GROUP BY label""",
    "q25_json_extract" ->
      """SELECT event_id, try_cast(json_extract_string(props, '$.k') as int) AS k
         FROM events WHERE try_cast(json_extract_string(props, '$.k') as int) > 50""",
    "q26_multilabel" ->
      """WITH base AS (
           SELECT user_id AS doc, event_type AS label,
             CASE WHEN max(value) > 75 THEN 1 ELSE 0 END AS pred,
             CASE WHEN max(try_cast(json_extract_string(props,'$.k') as int)) > 75 THEN 1 ELSE 0 END AS gold
           FROM events GROUP BY user_id, event_type),
         conf AS (
           SELECT
             sum(CASE WHEN pred=1 AND gold=1 THEN 1 ELSE 0 END) AS tp,
             sum(CASE WHEN pred=1 AND gold=0 THEN 1 ELSE 0 END) AS fp,
             sum(CASE WHEN pred=0 AND gold=1 THEN 1 ELSE 0 END) AS fn
           FROM base),
         bylabel AS (
           SELECT label,
             sum(CASE WHEN pred=1 AND gold=1 THEN 1 ELSE 0 END) AS tp,
             sum(CASE WHEN pred=1 AND gold=0 THEN 1 ELSE 0 END) AS fp,
             sum(CASE WHEN pred=0 AND gold=1 THEN 1 ELSE 0 END) AS fn
           FROM base GROUP BY label),
         bydoc AS (
           SELECT doc,
             sum(CASE WHEN pred=1 AND gold=1 THEN 1 ELSE 0 END) AS tp,
             sum(CASE WHEN pred=1 AND gold=0 THEN 1 ELSE 0 END) AS fp,
             sum(CASE WHEN pred=0 AND gold=1 THEN 1 ELSE 0 END) AS fn
           FROM base GROUP BY doc)
         SELECT
           (SELECT round(CASE WHEN 2*tp+fp+fn=0 THEN 0.0 ELSE 2.0*tp/(2*tp+fp+fn) END, 6) FROM conf) AS micro_f1,
           (SELECT round(avg(CASE WHEN 2*tp+fp+fn=0 THEN 0.0 ELSE 2.0*tp/(2*tp+fp+fn) END), 6) FROM bylabel) AS macro_f1,
           (SELECT round(avg(CASE WHEN 2*tp+fp+fn=0 THEN 0.0 ELSE 2.0*tp/(2*tp+fp+fn) END), 6) FROM bydoc) AS instance_f1""",
    "q24_emb_brute_topk" ->
      """SELECT vec_id,
         round(list_cosine_similarity(cast(embedding as double[]),
           (SELECT cast(embedding as double[]) FROM embeddings ORDER BY vec_id LIMIT 1)), 6) AS cos
         FROM embeddings
         ORDER BY cos DESC, vec_id ASC LIMIT 10""",
    // langid heuristic spelled in SQL: per-language distinct-stopword ratios,
    // argmax with Spark's struct-max tiebreak (larger language string wins a
    // score tie: fr > es > en > de), 'und' below 0.1
    "g06_docs_langid" ->
      """SELECT doc_id,
         CASE WHEN greatest(s_en, s_de, s_fr, s_es) < 0.1 THEN 'und'
              WHEN s_fr >= greatest(s_en, s_de, s_es) THEN 'fr'
              WHEN s_es >= greatest(s_en, s_de) THEN 'es'
              WHEN s_en >= s_de THEN 'en'
              ELSE 'de' END AS lang_pred
         FROM (
           SELECT doc_id,
             CASE WHEN len(tk) = 0 THEN 0.0 ELSE cast(len(list_intersect(tk,
               ['the','of','and','to','in','a','is','that','it','was','for','on','with','as','at','by','be','this','are','or'])) as double)
               / cast(least(len(tk), 20) as double) END AS s_en,
             CASE WHEN len(tk) = 0 THEN 0.0 ELSE cast(len(list_intersect(tk,
               ['der','die','das','und','ist','von','zu','mit','den','nicht','ein','eine','auf','im','sich'])) as double)
               / cast(least(len(tk), 15) as double) END AS s_de,
             CASE WHEN len(tk) = 0 THEN 0.0 ELSE cast(len(list_intersect(tk,
               ['le','la','les','de','des','et','est','un','une','dans','que','pour','qui','au','pas'])) as double)
               / cast(least(len(tk), 15) as double) END AS s_fr,
             CASE WHEN len(tk) = 0 THEN 0.0 ELSE cast(len(list_intersect(tk,
               ['el','la','los','las','de','y','es','un','una','en','que','por','con','para','no'])) as double)
               / cast(least(len(tk), 15) as double) END AS s_es
           FROM (
             SELECT doc_id,
               list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-zà-ÿäöüß]+'), x -> x <> '')) AS tk
             FROM documents))""",
    "g07_docs_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
         FROM documents""",
    "g09_events_sessionize" ->
      """WITH lagged AS (
           SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         flagged AS (
           SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
           FROM lagged),
         sessions AS (
           SELECT user_id,
             cast(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS session_id
           FROM flagged)
         SELECT user_id, session_id, count(*) AS n_events
         FROM sessions GROUP BY user_id, session_id""",
    "q27_rule_gated" ->
      """SELECT doc_id,
         CASE WHEN n_tokens > 20 THEN 1 ELSE 0 END AS rule_len,
         CASE WHEN alpha_ratio >= 0.55 THEN 1 ELSE 0 END AS rule_alpha,
         CASE WHEN n_tokens > 20 AND alpha_ratio >= 0.55 THEN 1
              WHEN NOT (n_tokens > 20) AND NOT (alpha_ratio >= 0.55) THEN 0
              WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END AS gated_pred
         FROM (
           SELECT doc_id,
             length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
             CASE WHEN length(regexp_split_to_array(trim(text), '\s+')) = 0 THEN 0.0
               ELSE cast(length(regexp_replace(text, '\s+', '', 'g')) as double) /
                    cast(length(regexp_split_to_array(trim(text), '\s+')) as double) END AS mean_word_len,
             CASE WHEN length(text) = 0 THEN 0.0
               ELSE cast(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) as double) /
                    cast(length(text) as double) END AS alpha_ratio
           FROM documents)""",
    "q30_diverse_cap" ->
      """SELECT l_suppkey, count(*) AS n_kept,
         cast(sum(cast(l_quantity as decimal(18,2))) as double) AS kept_qty
         FROM (SELECT l_suppkey, l_quantity, row_number() OVER (
             PARTITION BY l_suppkey
             ORDER BY md5(concat_ws(':', 42, l_orderkey, l_linenumber)) ASC,
               l_orderkey ASC, l_linenumber ASC) AS rn
           FROM lineitem)
         WHERE rn <= 5 GROUP BY l_suppkey""",
    "q29_json_anns" ->
      """WITH built AS (
           SELECT doc_id,
             '{"body":{"text":"' || text || '","start":7,"anns":[{"startNode":{"offset":7},"endNode":{"offset":' ||
             cast(7 + (CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 10 END) as varchar) ||
             '},"features":{"Negation":"Affirmed","STY":"Disease or Syndrome","Experiencer":"Patient","string_orig":"' ||
             substring(text, 1, CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 10 END) ||
             '","inst":"C' || cast(doc_id % 50 as varchar) || '","PREF":"lbl"}},' ||
             '{"startNode":{"offset":12},"endNode":{"offset":32},"features":{"Negation":"' ||
             (CASE WHEN doc_id % 3 = 0 THEN 'Negated' ELSE 'Affirmed' END) ||
             '","STY":"Disease or Syndrome","Experiencer":"Patient","string_orig":"' ||
             substring(text, 6, 20) ||
             '","inst":"C' || cast(doc_id % 50 as varchar) || '","PREF":"lbl2"}}]}}' AS j
           FROM documents),
         corrupted AS (
           SELECT doc_id,
             CASE WHEN doc_id % 97 = 3 THEN substring(j, 1, length(j) - 1) ELSE j END AS j
           FROM built),
         anns AS (
           SELECT doc_id, j, i FROM corrupted CROSS JOIN (VALUES (0), (1)) t(i))
         SELECT doc_id, 'body' AS doc_part,
           json_extract_string(j, '$.body.anns[' || i || '].features.inst') AS code,
           json_extract_string(j, '$.body.anns[' || i || '].features.PREF') AS label,
           json_extract_string(j, '$.body.anns[' || i || '].features.string_orig') AS mention,
           cast(json_extract(j, '$.body.anns[' || i || '].startNode.offset') as integer) -
             cast(json_extract(j, '$.body.start') as integer) AS m_begin,
           cast(json_extract(j, '$.body.anns[' || i || '].endNode.offset') as integer) -
             cast(json_extract(j, '$.body.start') as integer) AS m_end
         FROM anns
         WHERE json_valid(j)
           AND json_extract_string(j, '$.body.anns[' || i || '].features.Negation') = 'Affirmed'
           AND length(json_extract_string(j, '$.body.anns[' || i || '].features.string_orig')) > 3""",
    "q28_taxonomy_rollup" ->
      """SELECT l_orderkey,
         array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations,
         array_to_string(list_sort(list(DISTINCT r_name)), ',') AS regions,
         count(DISTINCT s_suppkey) AS n_suppliers
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY l_orderkey""")
}
