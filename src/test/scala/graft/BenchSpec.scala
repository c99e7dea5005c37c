package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("compact bench line fits the 2000-character artifact tail at worst-case timings") {
    val headline = SparkEntry.registry.filter(_.headline).map(_.name)
    val runs = headline.map(n =>
      Bench.QueryRun(n, Seq.fill(3)(99.999), Seq.fill(3)(9.99), Seq(0.0, 0.0, 0.0), 999.999))
    // a data path longer than the default sf directory
    val line = Bench.compactLine(runs, 999.999, 999.999, 3, "/data/graft/testdata/sf0.1")
    assert(line.length < 1900, s"${line.length} chars: $line")
    headline.foreach(n => assert(line.contains("\"" + n + "\":99.999")))
    assert(line.contains("\"failed\":[]"))
  }
}
