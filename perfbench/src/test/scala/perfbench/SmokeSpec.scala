package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every workload at a tiny size, untraced and traced: the result line
  * names exactly the metrics BENCHMARK.json declares, each with its unit,
  * and the run record gives each end-to-end metric's sample count.
  */
class SmokeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("perfbench-smoke").toString
  private lazy val spark: SparkSession = Main.session(work)
  private val json = new ObjectMapper()
  private val spec = json.readTree(Paths.get("..", "BENCHMARK.json").toFile)

  override def afterAll(): Unit = {
    spark.stop()
    Host.deleteRecursively(work)
  }

  private def names(section: String): Map[String, String] =
    spec.get(section).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toMap

  private def tiny(w: Workload, f: Ctx => Outcome): Workload = new Workload {
    val name: String = w.name
    def run(ctx: Ctx): Outcome = f(ctx)
  }

  private val workloads = Seq(
    tiny(ServeRead, ServeRead.run(_, ServeRead.Size(docs = 2000, setups = 2, rate = 40))),
    tiny(CrudChurn, CrudChurn.run(_, CrudChurn.Size(docs = 2000, setups = 2, fresh = 40,
      upserts = 10, removes = 5, searchesAfter = 2, compactEvery = 2, minCycles = 2))),
    tiny(CorpusBatch, CorpusBatch.run(_, CorpusBatch.Size(docs = 300, vocab = 400,
      setups = 2))))

  test("BENCHMARK.json names the three workloads") {
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Workload.all.map(_.name))
  }

  for (w <- workloads) test(s"${w.name}: tiny run prints every named metric, correctly") {
    val out = s"$work/records"
    Files.createDirectories(Paths.get(out))
    for (trace <- Seq(false, true)) {
      val (records, result) = Main.runOnce(spark, w, 7L, 1.0, trace, s"$work/run", out, Host.stamp())
      val res = json.readTree(result)
      assert(res.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
      assert(res.get("correct").asBoolean, records.last)
      assert(res.get("failed").asLong == 0 && res.get("attempted").asLong >= 1)
      val want = names(if (trace) "per_layer" else "end_to_end")
      val got: Map[String, JsonNode] = res.get("metrics").properties().asScala
        .map(e => e.getKey -> e.getValue).toMap
      assert(got.keySet == want.keySet)
      got.foreach { case (k, v) =>
        assert(v.get("unit").asText == want(k), k)
        assert(v.get("value").isNumber, k)
      }
      val rec = json.readTree(records.last)
      assert(rec.get("workload").asText == w.name && rec.get("seed").asLong == 7L)
      assert(rec.get("host").get("nproc").asInt >= 1)
      assert(rec.get("host").get("steal_share").isNumber)
      Seq("loadavg_1m", "mem_available_mb", "dirty_kb", "steal_ticks").foreach(k =>
        assert(rec.get("host").get("start").has(k) && rec.get("host").get("end").has(k), k))
      assert(rec.get("workload_record").get("properties").size > 0)
      names("end_to_end").foreach { case (k, unit) =>
        val m = rec.get("end_to_end").get(k)
        assert(m.get("unit").asText == unit && m.get("samples").asInt >= 1, k)
      }
      if (trace) {
        assert(rec.get("tracing_overhead").has("request_ms_p50"))
        assert(Files.exists(Paths.get(s"$out/${w.name}-seed7-spans.jsonl")))
        rec.get("calls_by_span").properties().asScala.foreach { e =>
          assert(e.getValue.get("self_ms_mean").isNumber && e.getValue.get("calls").asInt >= 1,
            e.getKey)
        }
        rec.get("per_layer").properties().asScala.foreach { e =>
          assert(e.getValue.has("layer") && e.getValue.has("moves"), e.getKey)
        }
      }
    }
  }
}
