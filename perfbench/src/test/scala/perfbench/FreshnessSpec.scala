package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Matching a served standings total to the batch prefix it reflects. */
class FreshnessSpec extends AnyFunSuite {
  private def rec(session: String, driver: Int, position: Int) =
    Rec(RaceRecord(session, "m", "GP", "d", driver, Some(position), 57, false, None, 0L))

  // batch 0: 25 + 18; batch 1: a resend (nothing) + 15; batch 2: 12 + 10
  private val batches = Seq(
    Seq(rec("a", 1, 1), rec("a", 2, 2)),
    Seq(rec("a", 1, 1), Malformed("{"), rec("b", 3, 3)),
    Seq(rec("c", 4, 4), rec("c", 5, 5)))

  test("cumulative totals count each (session, driver) once across batches") {
    assert(Oracle.prefixTotals(batches) === Vector(43L, 58L, 80L))
  }

  test("a served total matches exactly one prefix, or none") {
    val totals = Oracle.prefixTotals(batches)
    assert(Oracle.matchPrefix(totals, 43) === Some(0))
    assert(Oracle.matchPrefix(totals, 58) === Some(1))
    assert(Oracle.matchPrefix(totals, 80) === Some(2))
    assert(Oracle.matchPrefix(totals, 50) === None)
    assert(Oracle.matchPrefix(totals, 0) === None)
    assert(Oracle.matchPrefix(totals, 81) === None)
  }

  test("the reference standings at the matched prefix total the served points") {
    val totals = Oracle.prefixTotals(batches)
    val names = (1 to 5).map(d => d.toString -> s"D$d").toMap
    (1 to batches.size).foreach { k =>
      val s = Oracle.standings(batches.take(k).flatten, names, 3)
      assert(Oracle.matchPrefix(totals, Oracle.totalPoints(s)) === Some(k - 1))
    }
  }
}
