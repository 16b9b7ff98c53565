package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout summary line stays within the driver's tail
  * budget by dropping detail, never by being cut mid-JSON. */
class BenchLineSpec extends AnyFunSuite {

  private val headline = (1 to 10).map(i => f"q$i%02d_some_query_name" -> i * 1.5)
  private val spread = headline.map { case (n, _) => n -> 1.25 }

  private def render(hl: Seq[(String, Double)],
                     spr: Option[Seq[(String, Double)]]): String = {
    def jmap(kvs: Seq[(String, Double)]) =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val s = spr.fold("")(kvs => "\"queries_spread\":" + jmap(kvs) + ",")
    "{\"queries\":" + jmap(hl) + "," + s + "\"sf\":\"x\"}"
  }

  private def fit(budget: Int) = Bench.fitLine(headline, spread, budget)(render)

  test("a line within budget is left whole") {
    val full = render(headline, Some(spread))
    assert(fit(full.length) == full)
  }

  test("over budget, queries_spread goes before any headline entry") {
    val full = render(headline, Some(spread))
    val line = fit(full.length - 1)
    assert(line == render(headline, None))
    assert(!line.contains("queries_spread"))
  }

  test("then headline entries go from the end until the line fits") {
    val budget = render(headline.take(4), None).length
    assert(fit(budget) == render(headline.take(4), None))
    assert(fit(budget - 1) == render(headline.take(3), None))
    assert(fit(budget - 1).length <= budget - 1)
  }

  test("the shortest form comes back when nothing fits") {
    assert(fit(5) == render(Nil, None))
  }
}
