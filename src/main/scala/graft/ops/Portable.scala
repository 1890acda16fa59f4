package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-portable twins of the near-dup family.
  *
  * The production operators (Dedup.*) hash with xxhash64 / the custom
  * codegen'd kernels — fast, but no other engine can replicate them, so the
  * driver's DuckDB oracle could only count rows. These twins run the SAME
  * dataflow shape — capped LSH band candidates → exact-similarity
  * verification → connected-components clustering — but draw every hash from
  * md5 (which DuckDB computes bit-identically), every similarity from exact
  * set intersection over the SAME element sets both engines can build in SQL,
  * and every tiebreak from total orders both engines share. Result: the full
  * candidates→verify→cluster pipeline is hash-checkable end-to-end against an
  * independent SQL engine (CC verified via a recursive-CTE transitive
  * closure).
  *
  * Use the production family for throughput (Bench overrides the g02/g03/g04/
  * g11 bench entries back to it); use this family when cross-engine
  * verifiability matters more than hash speed. Both scale identically: the
  * plan shapes are the same, only the hash kernel differs.
  */
object Portable {

  /** Distinct word n-gram set (lowercased whitespace tokens; short docs fall
    * back to the whole token string, so every doc has a non-empty set). */
  def wordNgramSet(text: Column, n: Int): Column =
    wordNgramsFromTokens(filter(split(lower(text), "\\s+"),
      t => length(t) > 0), n)

  /** Same n-gram set over an ALREADY-MATERIALIZED token-array column.
    * Compose wordNgramSet only where the consumer evaluates it once per row
    * (e.g. into a persisted set table, as nearDupMd5 does); anywhere the
    * n-gram array is consumed element-wise, project the token array FIRST
    * and call this on the attribute — expression trees cannot let-bind, so
    * the naive composition re-evaluates the split+filter tokenizer inside
    * every lambda element (measured: 21s for 5k sf0.1 docs in q36's
    * explode; 0.6s with the token array projected). */
  def wordNgramsFromTokens(tk: Column, n: Int): Column =
    when(size(tk) < n, array(array_join(tk, " "))).otherwise(
      array_distinct(transform(sequence(lit(1), size(tk) - n + 1), i =>
        array_join(slice(tk, i, lit(n)), " "))))

  /** md5 minhash signature over an element-set column: sig[h] =
    * min over elements of md5(element ":" h) — min over lowercase-hex
    * strings, a total order every engine agrees on. */
  def md5MinhashSig(setCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), h =>
      array_min(transform(setCol, s => md5(concat(s, lit(":"), h.cast("string"))))))

  /** LSH band bucket strings from a signature: "b<band>|row|row|...". */
  def bandBuckets(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      concat(lit("b"), b.cast("string"), lit("|"),
        array_join(slice(sig, b * lit(rows) + lit(1), lit(rows)), "|")))

  /** Exact Jaccard of two element-set columns (distinct sets), computed the
    * way SQL computes it: |∩| / (|a| + |b| - |∩|), all-int until one double
    * division — bit-identical across engines. */
  def setJaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter).cast("double")
  }

  /** Portable near-dup over any element-set column: md5-minhash band
    * candidates (capped), exact set-Jaccard verification, CC clustering.
    * Output (idCol, dup_of) like the production family. */
  def nearDupMd5(spark: SparkSession, docs: DataFrame, idCol: String,
      setCol: Column, threshold: Double, numHashes: Int = 16, bands: Int = 8,
      rows: Int = 2, maxBucket: Int = 256): DataFrame = {
    val sets = docs.select(col(idCol).as("id"), setCol.as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val keyed = sets.select(col("id"),
        explode(bandBuckets(md5MinhashSig(col("sh"), numHashes), bands, rows))
          .as("bucket"))
      val verified = DeltaDedup.cappedPairs(keyed, maxBucket)
        .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .filter(setJaccard(col("sh_a"), col("sh_b")) >= threshold)
        .select("id_a", "id_b")
      Dedup.clusterDups(spark, verified, docs, idCol)
    } finally sets.unpersist()
  }

  /** INCREMENTAL form of the md5 minhash near-dup twin (cross-engine proof
    * row g16 — the delta-maintenance algebra of ops/Incremental extended to
    * the training-data dedup family): splits the documents table by a
    * deterministic md5 hash of the id into a ~75% "base" corpus and a ~25%
    * "delta" batch, dedups the base exactly as nearDupMd5 would, then
    * ATTACHES the delta touching only delta-adjacent state. The DuckDB
    * oracle replays the FULL BATCH twin over the whole table (the g02 SQL):
    * hash equality proves the attach equals a from-scratch dedup in an
    * independent engine.
    *
    * The delta algebra itself (candidate diff, cap-crossing survivor
    * check, CC dissolve/re-solve — with its completeness argument) lives in
    * DeltaDedup.attach, shared with the production xxhash path
    * (Dedup.minhashNearDupAttach) so the two instantiations cannot drift. */
  def nearDupMd5Incremental(spark: SparkSession, docs: DataFrame, idCol: String,
      setCol: Column, threshold: Double, numHashes: Int = 16, bands: Int = 8,
      rows: Int = 2, maxBucket: Int = 256): DataFrame = {
    val isDelta = substring(md5(col("id").cast("string")), 1, 1)
      .isin("c", "d", "e", "f")
    val sets = Cut.keep("g16_sets")(docs.select(col(idCol).as("id"), setCol.as("sh")))
    // materialized ONCE: the md5 minhash signature over every shingle is the
    // twin's dominant cost, and the base/delta split below would otherwise
    // recompute it per filter
    val keyedAll = Cut.keep("g16_keyedAll")(sets.select(col("id"),
      explode(bandBuckets(md5MinhashSig(col("sh"), numHashes), bands, rows))
        .as("bucket"))
      .withColumn("is_delta", isDelta))
    val keyedB = keyedAll.filter(!col("is_delta"))
    def verify(cands: DataFrame) = cands
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(setJaccard(col("sh_a"), col("sh_b")) >= threshold)
      .select("id_a", "id_b")

    // committed base state (in-query here; stage tables in a deployment)
    val baseEdges = Cut.keep("g16_baseEdges")(
      verify(DeltaDedup.cappedPairs(keyedB, maxBucket)))
    val clustersB = Cut.keep("g16_clustersB")(Clustering.clusters(spark,
      baseEdges.select(DeltaDedup.key(col("id_a")).as("url_a"),
        DeltaDedup.key(col("id_b")).as("url_b"), lit(true).as("is_match")),
      keyedB.select(DeltaDedup.key(col("id")).as("url")).distinct()))

    val att = DeltaDedup.attach(spark, keyedAll, baseEdges, clustersB,
      verify, maxBucket)
    att.assign.filter(col("url") =!= col("cluster_id"))
      .select(col("url").cast("long").as(idCol),
        col("cluster_id").cast("long").as("dup_of"))
  }

  /** DELETE form of the md5 near-dup twin (cross-engine proof row g17 —
    * the takedown half of the delta algebra): dedups the WHOLE documents
    * table as the committed base, then DETACHES a deterministic ~25% md5
    * slice via DeltaDedup.detach. The DuckDB oracle replays the full-batch
    * g02 SQL over the REMAINING ~75% only: hash equality proves the detach
    * equals a from-scratch dedup of the post-delete corpus. */
  def nearDupMd5Detach(spark: SparkSession, docs: DataFrame, idCol: String,
      setCol: Column, threshold: Double, numHashes: Int = 16, bands: Int = 8,
      rows: Int = 2, maxBucket: Int = 256): DataFrame = {
    val isDeleted = substring(md5(col("id").cast("string")), 1, 1)
      .isin("c", "d", "e", "f")
    val sets = Cut.keep("g17_sets")(docs.select(col(idCol).as("id"), setCol.as("sh")))
    val keyedAll = Cut.keep("g17_keyedAll")(sets.select(col("id"),
      explode(bandBuckets(md5MinhashSig(col("sh"), numHashes), bands, rows))
        .as("bucket")))
    def verify(cands: DataFrame) = cands
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(setJaccard(col("sh_a"), col("sh_b")) >= threshold)
      .select("id_a", "id_b")

    // committed base state over the FULL table
    val baseEdges = Cut.keep("g17_baseEdges")(
      verify(DeltaDedup.cappedPairs(keyedAll, maxBucket)))
    val clustersB = Cut.keep("g17_clustersB")(Clustering.clusters(spark,
      baseEdges.select(DeltaDedup.key(col("id_a")).as("url_a"),
        DeltaDedup.key(col("id_b")).as("url_b"), lit(true).as("is_match")),
      keyedAll.select(DeltaDedup.key(col("id")).as("url")).distinct()))

    val att = DeltaDedup.detach(spark, keyedAll,
      sets.filter(isDeleted).select("id"), baseEdges, clustersB,
      verify, maxBucket)
    att.assign.filter(col("url") =!= col("cluster_id"))
      .select(col("url").cast("long").as(idCol),
        col("cluster_id").cast("long").as("dup_of"))
  }

  /** Portable 60-bit SimHash (Charikar bit-vote over whitespace tokens WITH
    * multiplicity, matching expr.SimHash's per-occurrence votes and strict
    * `> 0` majority): token hash = first 15 hex chars of md5 (60 bits — fits
    * a signed long in both engines), packed via a binary string so no
    * column-indexed shifts are needed. */
  def simhash60(text: Column): Column = {
    val tk = filter(split(lower(text), "\\s+"), t => length(t) > 0)
    val hs = transform(tk, t =>
      conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    val bitsMsbFirst = (59 to 0 by -1).map { b =>
      val vote = aggregate(hs, lit(0), (a, h) =>
        a + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
      when(vote > 0, lit("1")).otherwise(lit("0"))
    }
    conv(concat(bitsMsbFirst: _*), 2, 10).cast("long")
  }

  /** Portable simhash near-dup: 4×15-bit band buckets (any shared band ⇒
    * candidate; guarantees recall for hamming ≤ 3), capped, verified by true
    * hamming distance, CC-clustered. */
  def simhashNearDupMd5(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      maxHamming: Int = 3, maxBucket: Int = 256): DataFrame = {
    val hashed = docs.select(col(idCol).as("id"), simhash60(col(textCol)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val keyed = hashed.select(col("id"),
        explode(array((0 until 4).map(b =>
          concat(lit("b"), lit(b.toString), lit(":"),
            shiftrightunsigned(col("sh"), b * 15).bitwiseAND(lit(32767L))
              .cast("string"))): _*)).as("bucket"))
      val verified = DeltaDedup.cappedPairs(keyed, maxBucket)
        .join(hashed.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(hashed.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= maxHamming)
        .select("id_a", "id_b")
      Dedup.clusterDups(spark, verified, docs, idCol)
    } finally hashed.unpersist()
  }

  /** Oracle-portable twin of the FLAGSHIP ER pipeline (g01): the same
    * stage sequence as Pipeline.run — latest-snapshot dedup + extraction
    * invariant → mention extraction → dictionary + LSH blocking with the
    * stop-key cap → candidate pairs → context-overlap scoring → CC
    * clustering → cluster sizes — built exclusively from operations an
    * independent SQL engine reproduces bit-identically:
    *
    *  - hashes: md5 only (snapshot tiebreak, minhash signature);
    *  - mention extraction: regexp_extract_all of the Capitalized-run
    *    pattern (both engines' regex engines agree on this pattern), one
    *    DISTINCT (url, norm_key) row per surface — the per-occurrence
    *    offsets/ctx windows of the production Extract.mentions are
    *    deliberately out of the portable surface (xxhash64 mention ids and
    *    position-aware extraction have no SQL twin);
    *  - scoring: the production run scores with the JW/Lev/Jaccard/ctx-cosine
    *    ensemble; the twin's portable stand-in is the size of the
    *    intersection of the two pages' distinct-token sets (>= minShared) —
    *    integer set arithmetic, engine-exact, and on the fixture it is the
    *    same signal the ctx-cosine reads (same-entity pages share >= 4
    *    planted topic words; unrelated pages share ~0.1 filler words in
    *    expectation), so it separates the shared-abbreviation traps the
    *    string features cannot (gen/Synth.scala design notes);
    *  - clustering: Clustering.connectedComponents on url strings, checked
    *    in SQL by the same recursive-CTE transitive closure as g02-g04/g11.
    *
    * Output: (cluster_id = min url of the component, cluster_size), clusters
    * of size >= 2 only — the shape of SparkEntry.entry. Reference analogue:
    * the full document-processing pipeline,
    * `main_scripts/step9_processing_all_documents.py:123-215`. */
  def erClustersPortable(spark: SparkSession, pages: DataFrame,
      dict: DataFrame, maxBlock: Int = 256, minShared: Int = 3): DataFrame =
    erComponentsPortable(spark, pages, dict, maxBlock, minShared)
      .groupBy("cluster_id")
      .agg((count(lit(1)) + lit(1)).as("cluster_size"))

  /** Node-level output of the portable ER twin: (url, cluster_id) for every
    * non-representative member (the cluster_id is the component's min url) —
    * erClustersPortable aggregates this to sizes; PortableErSpec checks its
    * purity against the planted entity truth. */
  def erComponentsPortable(spark: SparkSession, pages: DataFrame,
      dict: DataFrame, maxBlock: Int = 256, minShared: Int = 3): DataFrame = {
    val ok = portableOk(pages)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cands = DeltaDedup.cappedPairs(portableBuckets(portableMen(ok), dict), maxBlock)
      val verified = portableVerify(cands, portableToks(ok), minShared)
      // s5: CC over url strings (eager: every round materializes, so the
      // returned frame reads only the converged cut — safe to unpersist ok)
      Clustering.connectedComponents(spark,
        verified.select(col("id_a").as("u"), col("id_b").as("v")))
    } finally ok.unpersist()
  }

  /** s0 of the portable ER twin: latest snapshot per url (md5 tiebreak),
    * extraction invariant, English filter → (url, text). */
  private[ops] def portableOk(pages: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("url")
      .orderBy(col("warc_ts").desc, md5(col("html")).asc)
    val body = regexp_extract(col("html").cast("string"), "<p>(.*)</p>", 1)
    pages.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .filter(col("lang") === "en" &&
        md5(body.cast("binary")) === md5(col("text").cast("binary")))
      .select(col("url"), col("text"))
  }

  /** s1: distinct normalized mention keys per page → (url, nk). */
  private[ops] def portableMen(ok: DataFrame): DataFrame =
    ok.select(col("url"), explode(regexp_extract_all(col("text"),
        lit("[A-Z][A-Za-z0-9]*( [A-Z][A-Za-z0-9]*)*"), lit(0))).as("surface"))
      .filter(length(col("surface")) >= 2)
      .select(col("url"),
        regexp_replace(lower(col("surface")), "[^a-z0-9]+", "").as("nk"))
      .distinct()

  /** s2: dictionary buckets (broadcast ontology join) + md5-minhash LSH
    * buckets over char-3-shingles of the normalized key → (bucket, id). */
  private[ops] def portableBuckets(men: DataFrame, dict: DataFrame): DataFrame = {
    val dictKeys = dict.select(col("entity_id"), explode(col("keys")).as("nk"))
    // the ontology is an input table, not a cut (no exact stats): hinted
    val dictBlk = men.join(broadcast(dictKeys), Seq("nk"))
      .select(concat(lit("e:"), col("entity_id")).as("bucket"), col("url"))
    val sh3 = when(length(col("nk")) < 3, array(col("nk"))).otherwise(
      array_distinct(transform(sequence(lit(1), length(col("nk")) - 2),
        i => col("nk").substr(i, lit(3)))))
    val lshBlk = men.select(
      explode(bandBuckets(md5MinhashSig(sh3, 16), 8, 2)).as("bucket"),
      col("url"))
    dictBlk.unionByName(lshBlk).distinct().withColumnRenamed("url", "id")
  }

  /** s4 feature input: distinct token set per page → (url, tk). */
  private[ops] def portableToks(ok: DataFrame): DataFrame =
    ok.select(col("url"), graft.functions.token_set(col("text")).as("tk"))

  /** s4: portable context-overlap scorer over (id_a, id_b) candidates. */
  private[ops] def portableVerify(cands: DataFrame, toks: DataFrame,
      minShared: Int): DataFrame =
    cands
      .join(toks.select(col("url").as("id_a"), col("tk").as("tk_a")), "id_a")
      .join(toks.select(col("url").as("id_b"), col("tk").as("tk_b")), "id_b")
      .filter(size(array_intersect(col("tk_a"), col("tk_b"))) >= minShared)
      .select("id_a", "id_b")

  /** DELETE form of the portable ER twin (cross-engine proof row g18 — the
    * takedown half of the ER delta algebra): the FULL fixture is the
    * committed base; a deterministic ~25% md5 url slice is detached via
    * DeltaDedup.detach instantiated with the twin's combined dict+LSH
    * bucket table and its pair-intrinsic token-overlap verifier (urls pass
    * keyFn=identity — they are already totally-ordered CC keys). The DuckDB
    * oracle replays the g01 FULL-BATCH SQL over the REMAINING urls only:
    * hash equality proves detach == a from-scratch run of the post-delete
    * corpus. Output shape matches g01 (cluster_id, cluster_size). */
  def erClustersPortableDetach(spark: SparkSession, pages: DataFrame,
      dict: DataFrame, maxBlock: Int = 256, minShared: Int = 3): DataFrame = {
    val isDeleted = substring(md5(col("url")), 1, 1).isin("c", "d", "e", "f")
    val ok = Cut.keep("g18_ok")(portableOk(pages))
    val blk = Cut.keep("g18_blk")(portableBuckets(portableMen(ok), dict))
    val toks = Cut.keep("g18_toks")(portableToks(ok))
    def verify(cands: DataFrame) = portableVerify(cands, toks, minShared)

    // committed base state over the FULL fixture
    val edgesB = Cut.keep("g18_edgesB")(verify(DeltaDedup.cappedPairs(blk, maxBlock)))
    val clustersB = Cut.keep("g18_clustersB")(Clustering.clusters(spark,
      edgesB.select(col("id_a").as("url_a"), col("id_b").as("url_b"),
        lit(true).as("is_match")),
      ok.select("url")))

    val att = DeltaDedup.detach(spark, blk,
      ok.filter(isDeleted).select(col("url").as("id")),
      edgesB, clustersB, verify, maxBlock, keyFn = identity)
    Cut.keep("g18_detached")(att.assign.filter(col("url") =!= col("cluster_id"))
      .groupBy("cluster_id")
      .agg((count(lit(1)) + lit(1)).as("cluster_size")))
  }

  /** INCREMENTAL form of the portable ER twin (the cross-engine proof row
    * for the ER delta-maintenance algebra, g15): splits the fixture by a
    * deterministic md5 url hash into a ~75% "base" corpus and a ~25%
    * "delta" batch, resolves the base exactly as erComponentsPortable
    * would, then ATTACHES the delta via DeltaDedup.attach instantiated like
    * the detach twin (combined dict+LSH bucket table, token-overlap
    * verifier, keyFn=identity). The url-level split makes the delta
    * inserts-only, and it still exercises every structural case: buckets
    * crossing the stop-key cap (edge removal, cluster splits), new
    * cross-cluster links (merges), survivors via untouched buckets and
    * isolated inserts. The DuckDB oracle replays the FULL BATCH twin over
    * the whole fixture (the g01 SQL): hash equality IS the proof that the
    * incremental algebra reproduces the batch result in an independent
    * engine. Snapshot-update deltas and the production rescore set are
    * exercised engine-side by IncrementalSpec. */
  def erClustersPortableIncremental(spark: SparkSession, pages: DataFrame,
      dict: DataFrame, maxBlock: Int = 256, minShared: Int = 3): DataFrame = {
    def isDelta(url: Column) = substring(md5(url), 1, 1).isin("c", "d", "e", "f")
    val ok = Cut.keep("g15_ok")(portableOk(pages))
    val blk = Cut.keep("g15_blk")(portableBuckets(portableMen(ok), dict)
      .withColumn("is_delta", isDelta(col("id"))))
    val toks = Cut.keep("g15_toks")(portableToks(ok))
    def verify(cands: DataFrame) = portableVerify(cands, toks, minShared)

    // committed base state over the non-delta urls
    val edgesB = Cut.keep("g15_edgesB")(
      verify(DeltaDedup.cappedPairs(blk.filter(!col("is_delta")), maxBlock)))
    val clustersB = Cut.keep("g15_clustersB")(Clustering.clusters(spark,
      edgesB.select(col("id_a").as("url_a"), col("id_b").as("url_b"),
        lit(true).as("is_match")),
      ok.filter(!isDelta(col("url"))).select("url")))

    val att = DeltaDedup.attach(spark, blk, edgesB, clustersB, verify,
      maxBlock, keyFn = identity)
    Cut.keep("g15_attached")(att.assign.filter(col("url") =!= col("cluster_id"))
      .groupBy("cluster_id")
      .agg((count(lit(1)) + lit(1)).as("cluster_size")))
  }

  /** Axis-aligned sign-LSH bucket: the sign pattern of the first nPlanes
    * embedding components as a bit string — a legitimate (if coarse)
    * random-hyperplane bucket that any SQL engine reproduces exactly. */
  def axisSignBucket(vec: Column, nPlanes: Int): Column =
    array_join(transform(slice(vec, 1, nPlanes), x =>
      when(x >= 0, lit("1")).otherwise(lit("0"))), "")

  /** Bucket-partitioned write of an embeddings table keyed by the
    * engine-portable axis-sign bucket — the oracle-checkable twin of
    * Ann.writeBucketed (same partitionBy-the-bucket scale path, portable
    * hash). The partition value is 'b'-prefixed so the bit string
    * round-trips as a STRING through Spark's partition-column type
    * inference (a bare "001011" would be read back as the integer 1011). */
  def writeAxisBucketed(embs: DataFrame, path: String, nPlanes: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    // explicit-count repartition by the partition column before the write:
    // per-file creation dominates a 2^nPlanes-dir write from few scan tasks,
    // and a bare repartition(col) would be AQE-coalesced back to one task —
    // see Ann.writeBucketed
    embs.select(col(idCol), col(vecCol),
        concat(lit("b"), axisSignBucket(col(vecCol), nPlanes)).as("bucket"))
      .repartition(embs.sparkSession.sparkContext.defaultParallelism,
        col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Partition-pruned multi-probe cosine top-k over a writeAxisBucketed
    * table: scans ONLY the query's bucket plus its nPlanes hamming-1
    * neighbors — (1+nPlanes)/2^nPlanes of the data — via a partition
    * filter (isin over literal bucket strings). The oracle replays the
    * same probe as a bucket-predicate filter (hamming(bucket, qb) <= 1)
    * over a full scan: identical semantics, so the pruned read path itself
    * is hash-checked end-to-end (CORRECTNESS g14). */
  def axisBucketedTopK(spark: SparkSession, path: String,
      query: Array[Float], k: Int, nPlanes: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qb = query.take(nPlanes).map(x => if (x >= 0) '1' else '0').mkString
    val probes = ("b" + qb) +: (0 until nPlanes).map(i =>
      "b" + qb.updated(i, if (qb(i) == '1') '0' else '1'))
    val q = array(query.map(lit): _*)
    spark.read.parquet(path)
      .filter(col("bucket").isin(probes: _*))
      .select(col(idCol),
        round(graft.functions.cosine_sim(col(vecCol), q), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Portable embedding near-dup: axis-sign buckets (capped), cosine-verified
    * (≥ threshold), CC-clustered — the capped/late-materialized pattern of
    * Dedup.embeddingNearDup with an engine-portable bucket function. */
  def embeddingNearDupPortable(spark: SparkSession, embs: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.4, nPlanes: Int = 6,
      maxBucket: Int = 256): DataFrame = {
    val bucketed = embs.select(col(idCol).as("id"), col(vecCol).as("v"),
        axisSignBucket(col(vecCol), nPlanes).as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val verified = DeltaDedup.cappedPairs(bucketed.select("id", "bucket"), maxBucket)
        .join(bucketed.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
        .join(bucketed.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
        .filter(graft.functions.cosine_sim(col("v_a"), col("v_b")) >= threshold)
        .select("id_a", "id_b")
      Dedup.clusterDups(spark, verified, embs.select(col(idCol)), idCol)
    } finally bucketed.unpersist()
  }
}
