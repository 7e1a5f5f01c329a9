package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class BenchSpec extends AnyFunSuite {

  test("summary line: 311 queries fit in 2,000 characters and parse") {
    val groups = Seq("qg", "qd", "qp", "rel")
    // medians spread over 0-30 s (the sf0.1 suite's are mostly under
    // 2 s), one failed query, names in no particular order
    val med = (0 until 311).reverse.map { i =>
      val g = groups(i % 4)
      val name = (if (g == "rel") "r_" else g + "_") + f"synthetic_$i%03d"
      name -> (if (i == 7) -1.0 else (i * 7919 % 30000) / 1000.0)
    }
    val line = Bench.summaryLine(med, "sf0.1", 0.0865)
    assert(line.length <= 2000, s"${line.length} characters")
    assert(!line.contains("\n"))
    val j = new ObjectMapper().readTree(line)
    assert(j.get("metric").asText == "total" && j.get("sf").asText == "sf0.1")
    assert(j.get("calib").asDouble == 0.0865)
    val ok = med.map(_._2).filter(_ >= 0)
    assert(math.abs(j.get("value").asDouble - ok.sum) < 1e-3)
    assert(j.get("groups").fieldNames.asScala.toSeq == groups)
    // per group: integer milliseconds in sorted-name order, -1 = failed
    groups.foreach { g =>
      val want = med.filter { case (n, _) =>
          n.startsWith((if (g == "rel") "r" else g) + "_") }
        .sortBy(_._1)
        .map { case (_, v) => if (v < 0) -1L else math.round(v * 1000) }
      val got = j.get("ms").get(g).elements.asScala.map(_.asLong).toSeq
      assert(got == want, g)
    }
  }
}
