package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Cut

/** Cut: kept frames carry exact statistics, so the planner picks the join
  * strategy a hand-placed hint used to force — and falls back to a shuffle
  * under a smaller cap. */
class CutSpec extends SparkSpec {

  /** 43 rows whose pre-computation estimate is a join product (terabytes
    * for a bare localCheckpoint leaf). */
  private def smallJoin(): DataFrame =
    spark.range(0, 100000).filter(col("id") < 43)
      .join(spark.range(0, 100000), "id")

  private def large(): DataFrame =
    spark.range(0, 200000).select((col("id") % 1000).as("id"), col("id").as("v"))

  private def finalPlan(df: DataFrame): (String, Set[(Long, Long)]) = {
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (df.queryExecution.executedPlan.toString, rows)
  }

  test("a kept frame's stats hold its exact row count and stored bytes") {
    val kept = Cut.keep("spec_small")(smallJoin())
    val stats = kept.queryExecution.optimizedPlan.stats
    stats.rowCount shouldBe Some(BigInt(43))
    kept.count() shouldBe 43L
    stats.sizeInBytes should be > BigInt(0)
    Cut.bytes(kept) shouldBe stats.sizeInBytes

    val empty = Cut.keep("spec_empty")(smallJoin().filter(col("id") < 0))
    empty.queryExecution.optimizedPlan.stats.rowCount shouldBe Some(BigInt(0))
  }

  test("an unhinted semi-join against a kept frame broadcasts it, no exchange") {
    val kept = Cut.keep("spec_probe")(smallJoin())
    val (plan, rows) = finalPlan(large().join(kept, Seq("id"), "left_semi"))
    plan should include("BroadcastHashJoin")
    plan should not include "Exchange hashpartitioning"
    rows.size shouldBe 43 * 200
    // the bare checkpoint keeps the join-product estimate: the large side
    // is shuffled to meet it
    val bare = smallJoin().localCheckpoint(eager = true)
    finalPlan(large().join(bare, Seq("id"), "left_semi"))._1 should
      include("Exchange hashpartitioning")
  }

  test("under a broadcast cap of 0 the same join sort-merges, same rows") {
    val kept = Cut.keep("spec_probe0")(smallJoin())
    val before = spark.conf.get(Cut.BroadcastThreshold)
    val (bPlan, bRows) = finalPlan(large().join(kept, Seq("id"), "left_semi"))
    val (plan, rows) = Cut.withBroadcastCap(spark, 0L) { _ =>
      finalPlan(large().join(kept, Seq("id"), "left_semi"))
    }
    bPlan should include("BroadcastHashJoin")
    plan should include("SortMergeJoin")
    plan should not include "BroadcastHashJoin"
    rows shouldBe bRows
    spark.conf.get(Cut.BroadcastThreshold) shouldBe before
  }

  test("a failing keepAsync leg surfaces its name") {
    val boom = spark.range(0, 10)
      .select(raise_error(lit("planted failure")).as("x"))
    val err = intercept[IllegalStateException](
      Cut.await(Cut.keepAsync("spec_failing_leg")(boom)))
    err.getMessage should include("spec_failing_leg")
  }
}
