package graft

import org.scalatest.funsuite.AnyFunSuite

/** The size-bounded stdout metric line: which shape [[Bench.fitLine]]
  * emits for a given budget.
  */
class BenchLineSpec extends AnyFunSuite {
  import Bench.LineShape

  /** A line that carries `base` characters plus the size of every part
    * its shape keeps, the way Bench's compactLine grows.
    */
  private def render(base: Int, cat: Int, sf1: Int, gates: Int,
                     scalars: Int)(s: LineShape): String =
    "x" * (base + (if (s.catQueries) cat else 0) +
      (if (s.sf1Queries) sf1 else 0) + (if (s.gates) gates else 0) +
      (if (s.fullScalars) scalars else 0))

  test("the smallest shape drops every degradable part") {
    assert(Bench.lineShapes.last ==
      LineShape(catQueries = false, sf1Queries = false, gates = false,
        fullScalars = false))
  }

  test("the first shape that fits wins, in priority order") {
    val r = render(200, 1100, 600, 300, 150) _
    assert(Bench.fitLine(r, 3000).length == 2350) // everything
    assert(Bench.fitLine(r, 1800).length == 1750) // sf1 map dropped
    assert(Bench.fitLine(r, 1500).length == 1450) // gates dropped too
    assert(Bench.fitLine(r, 1320).length == 1300) // scalars dropped too
  }

  test("when no shape fits, the smallest line is emitted, not the largest") {
    val r = render(1900, 1100, 600, 300, 150) _
    assert(Bench.fitLine(r, Bench.StdoutBudget).length == 1900)
  }

  test("the emitted line fits the budget whenever any shape does") {
    val rnd = new scala.util.Random(7L)
    for (_ <- 1 to 2000) {
      val r = render(rnd.nextInt(600), rnd.nextInt(2500), rnd.nextInt(2500),
        rnd.nextInt(800), rnd.nextInt(400)) _
      val smallest = r(Bench.lineShapes.last).length
      val budget = rnd.nextInt(4000)
      val line = Bench.fitLine(r, budget)
      if (smallest <= budget) assert(line.length <= budget)
      else assert(line.length == smallest)
    }
  }
}
