package graft

import java.nio.file.{Files, Paths}

import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.funsuite.AnyFunSuite

/** The stdout bench line is the driver's ONLY channel for the round's
  * headline number, and it reads just the last ~2000 chars of output —
  * BENCH_r02 and BENCH_r09 both went parsed=null when the line outgrew
  * that window. These tests pin the hard-budget invariant at any
  * surface size, on the pure renderer the main() path calls.
  */
class BenchLineSpec extends AnyFunSuite {

  private def parseable(s: String): Boolean =
    // cheap structural check without a JSON lib: balanced one-line object
    // with the driver's two load-bearing fields present
    s.startsWith("{") && s.endsWith("}") && s.count(_ == '{') == s.count(_ == '}') &&
      s.contains("\"metric\":\"total\"") && s.contains("\"value\":") &&
      s.contains("\"failed\":") && !s.contains("\n")

  private def mkResults(n: Int): Seq[(String, Double)] =
    (1 to n).map(i => (f"q$i%03d_some_query_name_$i", 0.37 * (i % 17) + 0.01))

  test("fits the window at the round-9 surface size (162) and well past it") {
    for (n <- Seq(50, 162, 175, 200, 300, 500)) {
      val line = Bench.renderLine(mkResults(n), nFailed = 0, sfName = "sf0.1")
      assert(line.length <= 1900, s"n=$n line ${line.length} chars blows the budget")
      assert(parseable(line), s"n=$n line is not a one-line JSON object")
    }
  }

  test("small surfaces keep full centisecond per-query detail") {
    val line = Bench.renderLine(mkResults(100), 0, "sf0.1")
    assert(line.contains("\"queries\":{\"q001\":"))
    assert(line.length <= 1900)
  }

  test("the headline total excludes failed (negative) markers and never contains hv") {
    val rs = Seq(("a_x", 1.0), ("b_y", -3.0), ("c_z", 2.0))
    val line = Bench.renderLine(rs, nFailed = 1, sfName = "sf0.01")
    assert(line.contains("\"value\":3.0"))
    assert(line.contains("\"failed\":1"))
    assert(!line.contains("\"hv\""), "variance vectors live in BENCH_DETAIL.json only")
  }

  test("degenerate giant surface degrades to a headline-only pointer, still parseable") {
    // names long enough that even 1-decimal per-query detail cannot fit
    val rs = (1 to 400).map(i => (s"category${i}_long_query_name_variant_$i", 1.23))
    val line = Bench.renderLine(rs, 0, "sf0.1")
    assert(line.length <= 1900)
    assert(parseable(line))
    assert(line.contains("BENCH_DETAIL.json"))
  }

  test("the regression gate grades a full-name artifact: a planted 2x regression exits 1") {
    val floor = """\|\s*(\S+)\s*\|\s*([0-9.]+)\s*\|.*""".r
    val floors = Files.readString(Paths.get("BASELINE.md")).linesIterator.collect {
      case floor(q, t) if q != "query" => q -> t.toDouble
    }.toMap
    val names = SparkEntry.benchQueries.keys.toSeq.sorted
    assert(names.size == floors.size && names.forall(n => floors.contains(n.takeWhile(_ != '_'))))
    def grade(planted: Option[String]): Int = {
      val results = names.map { n =>
        val f = floors(n.takeWhile(_ != '_'))
        n -> (if (planted.contains(n)) 2 * f else f)
      }
      val artifact = Files.createTempFile("bench-full", ".json")
      try {
        Files.writeString(artifact, Bench.renderFullLine(results, 0, "sf0.1"))
        Process(Seq("python3", "tools/benchcompare.py", artifact.toString)).!(ProcessLogger(_ => ()))
      } finally Files.delete(artifact)
    }
    assert(grade(Some("d10_containment")) == 1)
    assert(grade(None) == 0)
  }
}
