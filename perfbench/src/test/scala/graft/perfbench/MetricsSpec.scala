package graft.perfbench

import java.io.File
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class MetricsSpec extends AnyFunSuite {
  private val all = Metrics.EndToEnd ++ Metrics.PerLayer

  test("every metric name matches [A-Za-z0-9_.-]+ and is used once") {
    all.foreach { case (name, _) => assert(name.matches(Metrics.NamePattern), name) }
    assert(all.map(_._1).distinct.length == all.length)
  }

  test("BENCHMARK.json lists the same metrics and units as the code") {
    val json = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
    def listed(key: String) =
      json.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(listed("end_to_end") == Metrics.EndToEnd)
    assert(listed("per_layer") == Metrics.PerLayer)
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText).toSet ==
      Main.Workloads.keySet)
  }
}
