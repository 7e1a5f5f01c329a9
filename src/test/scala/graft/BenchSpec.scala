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

  test("full record: every run writes one, a prefix run under target/") {
    val root = java.nio.file.Paths.get("/repo")
    assert(Bench.recordFile(root, Nil) == root.resolve("BENCH_FULL.json"))
    assert(Bench.recordFile(root, Seq("qg_page", "qd_", "qg_page")) ==
      root.resolve("target/BENCH_qd_+qg_page.json"))
    assert(Bench.recordFile(root, Seq("a/b c")) ==
      root.resolve("target/BENCH_a_b_c.json"))
    val med = Seq("qd_a" -> 0.12345, "qg_b" -> -1.0)
    val rec = Bench.fullRecord(med, Map("qd_a" -> 12L, "qg_b" -> -1L),
      Map("qd_a" -> 3, "qg_b" -> 0), "/data/sf0.1", 0.0865)
    val j = new ObjectMapper().readTree(rec)
    assert(j.get("value").asDouble == 0.123)
    assert(j.get("calibration_sec").asDouble == 0.0865)
    val a = j.get("per_query").get("qd_a")
    assert((a.get("sec").asDouble, a.get("mad_pct").asLong,
      a.get("rounds").asInt) == ((0.1235, 12L, 3)))
    val b = j.get("per_query").get("qg_b")
    assert((b.get("sec").asInt, b.get("mad_pct").asLong,
      b.get("rounds").asInt) == ((-1, -1L, 0)))
  }
}
