package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The committed JSON files say what the code does. */
class SpecFilesSpec extends AnyFunSuite {
  private val bench = new File(sys.props("user.dir"))
  private def read(f: File): JsonNode = new ObjectMapper().readTree(f)

  test("spec.json records the workload properties the code runs with") {
    val spec = read(new File(bench, "spec.json"))
    for ((name, p) <- Seq("ingest" -> Spec.Ingest, "warehouse" -> Spec.Warehouse)) {
      val node = spec.get("workloads").get(name).get("properties")
      for ((k, v) <- Spec.propsJson(p))
        assert(node.get(k).asDouble == v.toString.toDouble, s"$name.$k")
    }
    val suite = spec.get("workloads").get("query_suite").get("properties")
    assert(suite.get("stride").asInt == Spec.SuiteStride)
    assert(suite.get("warmup").elements.asScala.map(_.asText).toSeq == Spec.SuiteWarmup)
  }

  test("BENCHMARK.json lists every per-layer metric the code reports") {
    val b = read(new File(bench.getParentFile, "BENCHMARK.json"))
    val listed = b.get("per_layer").elements.asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(listed == Spec.PerLayer)
  }
}
