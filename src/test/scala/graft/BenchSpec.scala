package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class BenchSpec extends AnyFunSuite {
  private def parse(line: String) = new ObjectMapper().readTree(line)

  test("a query that throws is listed as failed, never reported as a time") {
    var calls = Map.empty[String, Int].withDefaultValue(0)
    val line = Bench.report(Seq("ok", "boom", "late"), n = 3, sfDir = "sf") { nm =>
      calls += nm -> (calls(nm) + 1)
      if (nm == "boom") throw new RuntimeException("early failure")
      if (nm == "late" && calls(nm) == 3) throw new RuntimeException("second pass")
      Thread.sleep(2)
    }
    val j = parse(line)
    assert(j.get("metric").asText == "total" && j.get("unit").asText == "sec")
    assert(j.get("failed").elements().asScala.map(_.asText).toSeq == Seq("boom", "late"))
    assert(j.get("queries").fieldNames().asScala.toSeq == Seq("ok"))
    val ok = j.get("queries").get("ok").asDouble
    assert(ok > 0 && j.get("value").asDouble == ok)
    val totals = j.get("totals").elements().asScala.map(_.asDouble).toSeq
    assert(totals.length == 3 && totals.min == ok)
    assert(calls("boom") == 1, "a failed query is not run again")
    assert(j.get("runs").asInt == 3)
  }

  test("no failures: an empty failed list, every query timed") {
    val j = parse(Bench.report(Seq("a", "b"), n = 2, sfDir = "sf")(_ => ()))
    assert(j.get("failed").size == 0)
    assert(j.get("queries").fieldNames().asScala.toSet == Set("a", "b"))
  }
}
