package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The reference fold against the hand-computed FIXTURES.md A.3
  * mini-season: 3 GPs × 4 drivers, one DNF classified P18, one driver
  * still racing.
  */
class OracleSpec extends AnyFunSuite {
  private def rec(session: String, driver: Int, position: Option[Int]) =
    Rec(RaceRecord(session, "m", "GP", "2023-03-05T15:00:00+00:00", driver, position,
      57, position.contains(18), None, 0L))

  private val season: Vector[Line] = Vector(
    rec("s1", 1, Some(1)), rec("s1", 11, Some(2)), rec("s1", 44, Some(3)), rec("s1", 16, Some(4)),
    rec("s2", 11, Some(1)), rec("s2", 1, Some(2)), rec("s2", 16, Some(3)), rec("s2", 44, Some(18)),
    rec("s3", 1, Some(1)), rec("s3", 44, Some(2)), rec("s3", 11, Some(3)), rec("s3", 16, None))

  private val names = Map("1" -> "Max Verstappen", "11" -> "Sergio Perez",
    "44" -> "Lewis Hamilton", "16" -> "Charles Leclerc")

  private val golden = Vector(
    Standing("1", "Max Verstappen", 68, 2, 66.67),
    Standing("11", "Sergio Perez", 58, 1, 33.33),
    Standing("44", "Lewis Hamilton", 33, 0, 0.0),
    Standing("16", "Charles Leclerc", 27, 0, 0.0))

  test("standings of the A.3 mini-season match the hand-computed table") {
    assert(Oracle.standings(season, names, 3) === golden)
  }

  test("malformed lines and exact resends change nothing; the first record per key wins") {
    val noisy = season.patch(3, Seq(Malformed("{\"grand_prix\":\"GP\""), season(0)), 0) :+
      rec("s1", 1, Some(9))
    assert(Oracle.standings(noisy, names, 3) === golden)
  }

  test("ties on points order by driver number as a string") {
    val tied = Vector(rec("a", 9, Some(1)), rec("b", 10, Some(1)))
    val s = Oracle.standings(tied, Map("9" -> "N", "10" -> "T"), 2)
    assert(s.map(_.driver) === Vector("10", "9"))
  }
}
