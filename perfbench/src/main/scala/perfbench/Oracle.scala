package perfbench

import scala.collection.mutable

/** One row of the championship standings, as `F1Ops.standings` serves it. */
final case class Standing(driver: String, name: String, points: Long,
    wins: Long, winRate: Double)

/** A plain-Scala reference for the served standings: a fold over the
  * generated records with no Spark in it.
  */
object Oracle {
  private val Ladder = Map(1 -> 25, 2 -> 18, 3 -> 15, 4 -> 12, 5 -> 10,
    6 -> 8, 7 -> 6, 8 -> 4, 9 -> 2, 10 -> 1)

  def points(position: Int): Int = Ladder.getOrElse(position, 0)

  /** Records that reach the exactly-once view, in arrival order: malformed
    * lines and null positions dropped, then the first record per
    * (session_key, driver_number) kept.
    */
  def kept(lines: Iterable[Line]): Vector[RaceRecord] = {
    val seen = mutable.HashSet.empty[(String, Int)]
    lines.iterator.collect { case Rec(r) if r.position.isDefined => r }
      .filter(r => seen.add((r.sessionKey, r.driver))).toVector
  }

  /** Standings over `lines`: points and wins per driver, win rate against
    * `totalRaces`, ordered by points descending then driver number as a
    * string — the engine's tie-break.
    */
  def standings(lines: Iterable[Line], names: Map[String, String],
      totalRaces: Long): Vector[Standing] =
    kept(lines).groupBy(_.driver.toString).iterator.map { case (d, rs) =>
      val wins = rs.count(_.position.contains(1)).toLong
      Standing(d, names(d), rs.map(r => points(r.position.get).toLong).sum, wins,
        BigDecimal(wins.toDouble / totalRaces.toDouble * 100d)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toVector.sortBy(s => (-s.points, s.driver))

  def totalPoints(standings: Seq[Standing]): Long = standings.map(_.points).sum

  /** Cumulative served-points totals after each batch prefix 0..k, for the
    * batches' lines in batch order. Dedup spans batches: a resend in a
    * later batch adds nothing.
    */
  def prefixTotals(batches: Seq[Seq[Line]]): Vector[Long] = {
    val seen = mutable.HashSet.empty[(String, Int)]
    var total = 0L
    batches.map { lines =>
      lines.foreach {
        case Rec(r) if r.position.isDefined && seen.add((r.sessionKey, r.driver)) =>
          total += points(r.position.get)
        case _ =>
      }
      total
    }.toVector
  }

  /** The batch prefix a read reflects: the first k whose cumulative total
    * equals the served total, or None when no prefix matches.
    */
  def matchPrefix(totals: IndexedSeq[Long], served: Long): Option[Int] = {
    val k = totals.indexWhere(_ >= served)
    if (k >= 0 && totals(k) == served) Some(k) else None
  }
}
