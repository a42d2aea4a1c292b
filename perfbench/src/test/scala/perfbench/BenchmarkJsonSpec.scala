package perfbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The metrics the harness prints are the ones BENCHMARK.json declares. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private lazy val json = JsonMethods.parse(Files.readString(Paths.get("../BENCHMARK.json")))

  private def declared(section: String): Seq[(String, String)] = (json \ section) match {
    case JArray(items) => items.map { m =>
      val (JString(n), JString(u)) = (m \ "name", m \ "unit")
      n -> u
    }
    case _ => Nil
  }

  test("per-layer metrics match the traced report, in order, with units") {
    assert(declared("per_layer") == Layers.metrics)
  }

  test("end-to-end metrics match the untraced report, with units") {
    assert(declared("end_to_end") == Report.endToEndMetrics)
  }

  test("the declared workloads are the ones the harness runs") {
    val JArray(ws) = json \ "workloads"
    assert(ws.map(w => (w \ "name").asInstanceOf[JString].s).sorted == Main.workloads.sorted)
  }
}
