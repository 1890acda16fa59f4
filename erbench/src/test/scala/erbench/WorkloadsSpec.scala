package erbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every workload at a tiny size, untraced and traced: all checks pass and
  * every metric BENCHMARK.json names is emitted with its unit. */
class WorkloadsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = new File("target/test-work").getAbsolutePath
  private val tiny = Sizes(erPages = 400, dedupDocs = 1000)
  private lazy val spark: SparkSession = Main.session(work, 2, 2)
  private val json = new ObjectMapper()
  private val spec = json.readTree(new File("../BENCHMARK.json"))

  override def afterAll(): Unit = {
    spark.stop()
    Workloads.rmrf(work)
  }

  private def metricsOf(section: String): Map[String, String] =
    spec.get(section).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toMap

  private def run(workload: String, trace: Boolean): JsonNode = {
    val out = Runner.run(spark,
      Workloads(workload, spark, seed = 7, s"$work/$workload-$trace", tiny), 1, trace)
    json.readTree(out.resultLine)
  }

  test("BENCHMARK.json names exactly the workloads the benchmark runs") {
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq ==
      Workloads.names)
    assert(metricsOf("per_layer") == Layers.perLayer.toMap)
  }

  for (w <- Workloads.names; trace <- Seq(false, true)) {
    test(s"$w ${if (trace) "traced" else "untraced"}: checks pass, every metric is emitted") {
      val r = run(w, trace)
      assert(r.get("correct").asBoolean(), r.toString)
      assert(r.get("failed").asInt() == 0)
      assert(r.get("attempted").asInt() >= (if (trace) 8 else 4))
      val emitted = r.get("metrics").fields().asScala
        .map(e => e.getKey -> e.getValue.get("unit").asText()).toMap
      assert(emitted == metricsOf(if (trace) "per_layer" else "end_to_end"))
      if (!trace) r.get("metrics").fields().asScala.foreach { e =>
        assert(e.getValue.get("value").asDouble() > 0, e.getKey)
      }
    }
  }
}
