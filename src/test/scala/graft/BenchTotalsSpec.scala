package graft

import org.scalatest.funsuite.AnyFunSuite

/** The compact totals line Bench prints last: valid JSON, under 200
  * bytes at the full query surface, counts and seconds as measured.
  */
class BenchTotalsSpec extends AnyFunSuite {
  test("totals line carries queries/ok/failed/total/geomean in under 200 bytes") {
    val secs = Seq.fill(165)(0.5) ++ Seq(2.0, 8.0)
    val line = Bench.totalsLine(secs, failed = 2)
    assert(line.getBytes("UTF-8").length < 200, line)
    assert(line == """{"bench_totals":{"queries":167,"ok":165,"failed":2,""" +
      s""""total_s":92.500,"geomean_s":${"%.4f".formatLocal(java.util.Locale.ROOT,
        math.exp((165 * math.log(0.5) + math.log(2.0) + math.log(8.0)) / 167))}}}""")
  }

  test("totals line of an empty run has a zero geomean, not NaN") {
    assert(Bench.totalsLine(Nil, failed = 0) ==
      """{"bench_totals":{"queries":0,"ok":0,"failed":0,"total_s":0.000,"geomean_s":0.0000}}""")
  }
}
