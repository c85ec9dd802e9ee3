package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("a throwing query is named in `failed` and fails the run; older keys read as before") {
    val core = Seq("q01_global_agg" -> 1.25, "q41_tumbling_window" -> -1.0)
    val lake = Seq("q190_kneser_ney" -> 2.5)
    assert(Bench.failedQueries(core ++ lake) == Seq("q41_tumbling_window"))
    assert(Bench.resultLine(core, lake, "/sf") ==
      """{"metric":"total","value":1.250,"unit":"sec",""" +
      """"queries":{"q01_global_agg":1.250,"q41_tumbling_window":-1.000},""" +
      """"lakehouse_value":2.500,"lakehouse_queries":{"q190_kneser_ney":2.500},""" +
      """"sf":"/sf","failed":["q41_tumbling_window"]}""")
    // a clean run: empty `failed`, so the bench exits 0
    assert(Bench.failedQueries(lake).isEmpty)
    assert(Bench.resultLine(Nil, lake, "/sf").endsWith(""""sf":"/sf","failed":[]}"""))
  }
}
