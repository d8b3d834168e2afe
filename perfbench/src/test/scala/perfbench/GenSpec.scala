package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives byte-identical input, another seed different input") {
    val a = Gen.render(Gen.sessions(7L, 0, 50, 0L))
    val b = Gen.render(Gen.sessions(7L, 0, 50, 0L))
    val c = Gen.render(Gen.sessions(8L, 0, 50, 0L))
    assert(java.util.Arrays.equals(a, b))
    assert(!java.util.Arrays.equals(a, c))
  }

  test("a session is one grid of distinct drivers from the pool, stamped with its due time") {
    val recs = Gen.session(3L, 12, 2400L).collect { case Rec(r) => r }.distinct
    assert(recs.map(_.driver).distinct.size === Gen.Grid)
    assert(recs.forall(r => r.driver >= 1 && r.driver <= Gen.DriverPool))
    assert(recs.map(_.sessionKey).distinct === Vector("s3-12"))
    assert(recs.forall(_.dueMs == 2400L))
    assert(recs.head.json.contains("\"due_ms\":2400"))
  }

  test("null positions, exact resends and malformed lines occur at small shares") {
    val lines = Gen.sessions(1L, 0, 2000, 0L)
    val slots = 2000.0 * Gen.Grid
    val recs = lines.collect { case Rec(r) => r }
    val nulls = recs.distinct.count(_.position.isEmpty) / slots
    val resends = (recs.size - recs.distinct.size) / slots
    val malformed = lines.count(_.isInstanceOf[Malformed]) / slots
    assert(nulls > 0.005 && nulls < 0.02)
    assert(resends > 0.005 && resends < 0.02)
    assert(malformed > 0.002 && malformed < 0.01)
    lines.collect { case Malformed(t) => t }.foreach(t => assert(!t.endsWith("}")))
  }
}
