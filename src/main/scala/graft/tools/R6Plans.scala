package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{Ann, Dedup}

/** Dev tool: dump the round-6 plan-audit artifacts (plans/r06) for the
  * BATCH queries this round touched — static formatted plans for the
  * frames whose shape changed. The incremental paths' per-intermediate
  * plans are dumped by the GRAFT_EXPLAIN_DIR hook (ops/Cut) during a
  * tools/IncrAB + tools/DedupIncrAB run instead.
  *
  * Usage: R6Plans <outDir> [sfDir]
  */
object R6Plans {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/r6plans")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        graft.Partitioning.shufflePartitions(cpus.toInt, 50000).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(out).mkdirs()

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/$name.txt"), plan)
      println(s"dumped $name")
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

    // g11: the embedding + sign-bucket projection (the interpreted-HOF ->
    // codegen'd-expression claim shows as sign_bucket vs aggregate/zip_with
    // in the Project list)
    dump("g11_bucket_projection", docs
      .select(col("doc_id").as("vec_id"),
        graft.functions.hash_embed(col("text"), 256, 42L).as("embedding"))
      .select(col("vec_id"),
        Ann.signBucket(col("embedding"), 12, 42L).as("bucket")))

    // g12: the frame the bucketed ANN write materializes (the explicit-count
    // repartition claim shows as an Exchange hashpartitioning(bucket, N))
    dump("g12_write_input", Ann.bucketedFrame(embs))

    // g05 bench override: multi-probe LSH top-k (sign_bucket in the filter)
    dump("g05_lsh_topk", Ann.lshTopK(embs,
      embs.orderBy("vec_id").select("embedding").head().getSeq[Float](0).toArray, 10))

    // g02-family candidate generation (unchanged this round, dumped for the
    // record: persist + sized self-join shape)
    dump("g02_candidates", Dedup.minhashCandidates(docs, "doc_id", "text"))

    spark.stop()
  }
}
