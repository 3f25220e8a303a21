package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json at the repository root declares what the harness
  * reports; the two must name the same metrics with the same units.
  */
class BenchmarkJsonSpec extends AnyFunSuite {
  private lazy val spec = {
    val file = Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null).map(_.resolve("BENCHMARK.json")).find(Files.isRegularFile(_))
      .getOrElse(fail("BENCHMARK.json not found above the working directory"))
    new ObjectMapper().readTree(file.toFile)
  }

  private def entries(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("per_layer lists exactly the traced run's metrics, in order, with their units") {
    assert(entries("per_layer") == Main.LayerUnits)
  }

  test("end_to_end lists exactly the untraced run's metrics") {
    assert(entries("end_to_end").toSet ==
      Set("job_s" -> "s", "retained_heap_mb" -> "MB", "setup_s" -> "s"))
  }

  test("every listed workload exists") {
    spec.get("workloads").elements().asScala.foreach(w => Workloads.byName(w.get("name").asText))
  }
}
