package graft

import org.apache.spark.sql.functions._

import graft.ops.{Ann, Multimodal, TextOps}

/** ANN, text-analysis and multimodal-plumbing tests. */
class AnnTextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def embs() = {
    val rnd = new scala.util.Random(11)
    (0L until 200L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
  }

  test("brute-force top-k: query vector itself ranks first with cos 1") {
    val df = embs()
    val q = df.orderBy("vec_id").select("embedding").head().getSeq[Float](0).toArray
    val top = Ann.bruteForceTopK(df, q, 5).collect()
    top.head.getAs[Long]("vec_id") shouldBe 0L
    top.head.getAs[Double]("cos") shouldBe 1.0 +- 1e-5
    // descending order
    val cs = top.map(_.getAs[Double]("cos")).toSeq
    cs shouldBe cs.sorted.reverse
  }

  test("driver-side bucketOf mirrors the signBucket column expression") {
    val df = embs()
    val rows = df.limit(20).collect()
    rows.foreach { r =>
      val vec = r.getSeq[Float](1).toArray
      val expected = Ann.bucketOf(vec, 8, 42L)
      val actual = Seq(Tuple1(vec)).toDF("v")
        .select(Ann.signBucket(col("v"), 8, 42L)).as[Int].head()
      actual shouldBe expected
    }
  }

  test("lshTopK returns a subset consistent with brute force scores") {
    val df = embs()
    val q = df.orderBy("vec_id").select("embedding").head().getSeq[Float](0).toArray
    val brute = Ann.bruteForceTopK(df, q, 200)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = Ann.lshTopK(df, q, 10).collect()
    lsh.foreach { r =>
      // every lsh hit carries the same (rounded) cosine brute force computed
      r.getDouble(1) shouldBe brute(r.getLong(0)) +- 1e-9
    }
    // the query's own vector is always in its own bucket => rank 1 survives
    lsh.head.getLong(0) shouldBe 0L
  }

  test("ivfTopK scans only the query's argmax bucket, query ranks first") {
    val df = embs()
    val q = df.orderBy("vec_id").select("embedding").head().getSeq[Float](0).toArray
    val top = Ann.ivfTopK(df, q, 10, m = 4).collect()
    // the query vector is in its own bucket by construction
    top.head.getAs[Long]("vec_id") shouldBe 0L
    top.head.getAs[Double]("cos") shouldBe 1.0 +- 1e-5
    // every hit shares the query's coarse bucket (the probe's pruning
    // invariant), and scores agree with brute force
    val head4 = q.take(4)
    val qb = head4.indexOf(head4.max) + 1
    val buckets = df.select(col("vec_id"),
        Ann.ivfBucket(col("embedding"), 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    top.foreach(r => buckets(r.getAs[Long]("vec_id")) shouldBe qb.toLong)
    val brute = Ann.bruteForceTopK(df, q, 200)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    top.foreach(r => r.getAs[Double]("cos") shouldBe brute(r.getAs[Long]("vec_id")) +- 1e-9)
  }

  test("bucketed write path: probed scan prunes partitions and matches lshTopK") {
    val df = embs()
    val q = df.orderBy("vec_id").select("embedding").head().getSeq[Float](0).toArray
    val dir = java.nio.file.Files.createTempDirectory("graft-ann").toString
    try {
      Ann.writeBucketed(df, dir, nPlanes = 8)
      val totalParts = new java.io.File(dir).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("bucket="))
      totalParts should be > 9 // 200 random vecs spread over 256 buckets

      val probed = Ann.lshTopKBucketed(spark, dir, q, 10, nPlanes = 8)
      val scan = probed.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      // partition pruning is real: at most the 9 probe buckets are read
      scan.selectedPartitions.partitionCount should be <= 9
      scan.selectedPartitions.partitionCount should be < totalParts

      // and the pruned result equals the unbucketed lshTopK
      val a = probed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = Ann.lshTopK(df, q, 10, nPlanes = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      a shouldBe b
    } finally {
      scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("portable axis-bucketed probe (g14): prunes partitions, equals the full-scan hamming<=1 replay") {
    val df = embs()
    val q = df.orderBy("vec_id").select("embedding").head().getSeq[Float](0).toArray
    val dir = java.nio.file.Files.createTempDirectory("graft-axis").toString
    try {
      graft.ops.Portable.writeAxisBucketed(df, dir, nPlanes = 6)
      val totalParts = new java.io.File(dir).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("bucket="))
      totalParts should be > 7 // 200 random vecs over 64 axis buckets

      val probed = graft.ops.Portable.axisBucketedTopK(spark, dir, q, 10, nPlanes = 6)
      val scan = probed.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      // partition pruning is real: at most the 7 probe buckets are read
      scan.selectedPartitions.partitionCount should be <= 7
      scan.selectedPartitions.partitionCount should be < totalParts
      // the partition value round-trips as a STRING (the 'b' prefix guard):
      // a leading-zero bucket must not collapse into an integer
      spark.read.parquet(dir).schema("bucket").dataType.typeName shouldBe "string"

      // the pruned read equals the oracle's semantics: full scan filtered to
      // hamming(bucket, query bucket) <= 1, cosine top-k (what the DuckDB
      // g14 row replays)
      val qb = q.take(6).map(x => if (x >= 0) '1' else '0').mkString
      val withB = df.withColumn("b",
        graft.ops.Portable.axisSignBucket(col("embedding"), 6))
      val hamming = (0 until 6).map(i =>
        when(substring(col("b"), i + 1, 1) =!= lit(qb(i).toString), 1).otherwise(0))
        .reduce(_ + _)
      val expected = withB.filter(hamming <= 1)
        .select(col("vec_id"),
          round(graft.functions.cosine_sim(col("embedding"),
            array(q.map(lit): _*)), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc).limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = probed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      got shouldBe expected
    } finally {
      scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("token counts") {
    val df = Seq(("a bb  ccc", 3), ("  x ", 1)).toDF("text", "expected")
    df.select(TextOps.wsTokenCount(col("text")).as("n"), col("expected"))
      .collect().foreach(r => r.getInt(0) shouldBe r.getInt(1))
    Seq(Tuple1("hello, world! supercalifragilistic"))
      .toDF("text")
      .select(TextOps.bpeishTokenCount(col("text"))).as[Int].head() should be > 6
  }

  test("langid heuristic: stopword-rich english vs german vs gibberish") {
    val df = Seq(
      ("en", "the cat sat on the mat and it was happy with this for a while"),
      ("de", "der hund ist nicht mit der katze auf dem sofa und das ist gut"),
      ("und", "zzz qqq vvv kkk jjj www")).toDF("expected", "text")
    val out = df.select(col("expected"),
      TextOps.langIdHeuristic(col("text")).as("got")).collect()
    out.foreach { r => r.getString(1) shouldBe r.getString(0) }
  }

  test("quality signals: clean prose scores higher than junk") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and this is a fine " +
        "sentence with many common words that are normal for english text"),
      (2L, "@@@@ #### $$$$ %%%% 1234 !!!! ???? &&&& ****")).toDF("doc_id", "text")
    val out = TextOps.withQualitySignals(df)
      .select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
    out(1L) should be > out(2L)
    out(1L) should be >= 0.75
  }

  test("fingerprint is whitespace-normalization invariant") {
    val df = Seq(("a  b\tc", "a b c")).toDF("x", "y")
    val r = TextOps.withFingerprint(df.select(col("x").as("text")))
      .select("fingerprint").as[Long].head()
    val r2 = TextOps.withFingerprint(df.select(col("y").as("text")))
      .select("fingerprint").as[Long].head()
    r shouldBe r2
  }

  test("multimodal plumbing: schema, determinism, null payload tolerance") {
    val df = Seq(
      (1L, "fake image bytes here".getBytes("UTF-8")),
      (2L, "other payload".getBytes("UTF-8")),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("doc_id", "payload")
    val out = Multimodal.withPayloadFeatures(Multimodal.withMediaMeta(df))
    out.schema("media_meta").dataType.typeName shouldBe "struct"
    val rows = out.orderBy("doc_id").collect()
    // deterministic: same payload -> same features
    val again = Multimodal.withPayloadFeatures(Multimodal.withMediaMeta(df))
      .orderBy("doc_id").collect()
    rows.take(2).map(r => r.getSeq[Float](r.fieldIndex("features"))).zip(
      again.take(2).map(r => r.getSeq[Float](r.fieldIndex("features")))).foreach {
      case (a, b) => a shouldBe b
    }
    // null payload propagates to null features, no exception
    rows(2).isNullAt(rows(2).fieldIndex("features")) shouldBe true
    // frame sampling emits nFrames vectors
    val ff = Multimodal.fakeFrameFeatures(df.filter(col("payload").isNotNull))
      .select(org.apache.spark.sql.functions.size(col("frame_features")))
      .as[Int].collect()
    all(ff) shouldBe 4
  }

  test("decontaminate: oversized eval slice takes the shuffle path and matches broadcast") {
    val docs = (0L until 40L).map { i =>
      (i, (0 until 12).map(k => s"w${(i * 7 + k * 3) % 23}").mkString(" "))
    }.toDF("doc_id", "text")
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val eval = docs.filter(col("doc_id") % 5 === 0)
    val bcast = TextOps.decontaminate(train, eval, n = 4)
    // cap 0 forces the fallback: same plan shape, shuffled on the n-gram key
    val shuffled = TextOps.decontaminate(train, eval, n = 4,
      broadcastEvalMaxBytes = 0L)
    shuffled.queryExecution.analyzed.toString should not include "broadcast"
    bcast.queryExecution.analyzed.toString should include("broadcast")
    shuffled.queryExecution.executedPlan.toString should include("SortMergeJoin")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2))
    shuffled.collect().map(key).sortBy(_._1).toSeq shouldBe
      bcast.collect().map(key).sortBy(_._1).toSeq
    bcast.count() should be > 0L
  }
}
