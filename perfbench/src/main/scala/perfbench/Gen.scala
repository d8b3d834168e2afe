package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.{Locale, SplittableRandom}

/** One driver's classification in one session, as the generator made it.
  * `position` is None while the driver is still racing; `dueMs` is the
  * session's creation stamp: its offset in ms from the schedule start.
  */
final case class RaceRecord(sessionKey: String, meetingKey: String,
    grandPrix: String, date: String, driver: Int, position: Option[Int],
    laps: Int, dnf: Boolean, gap: Option[String], dueMs: Long) {

  /** The record as one line of `race_results_topic` JSON. `due_ms` is not
    * in the declared message schema, so the engine's parser drops it.
    */
  def json: String = {
    def str(o: Option[String]) = o.fold("null")(s => "\"" + s + "\"")
    s"""{"grand_prix":"$grandPrix","date":"$date","driver_number":"$driver",""" +
      s""""position":${position.fold("null")(_.toString)},"laps_completed":$laps,""" +
      s""""dnf":$dnf,"gap_to_leader":${str(gap)},"meeting_key":"$meetingKey",""" +
      s""""session_key":"$sessionKey","due_ms":$dueMs}"""
  }
}

/** A generated input line: a record, or a malformed line the engine must
  * drop. Exact resends appear as two equal `Rec` lines.
  */
sealed trait Line { def text: String }
final case class Rec(r: RaceRecord) extends Line { def text: String = r.json }
final case class Malformed(text: String) extends Line

/** The seeded race-result generator. The same (seed, session index, due
  * stamp) always gives the same lines, byte for byte, so the backlog and
  * the live schedule are reproducible from the seed alone.
  */
object Gen {
  val DriverPool = 99
  val Grid = 20
  // per-mille shares of anomalies, per driver slot
  val NullPositionPerMille = 10
  val ResendPerMille = 10
  val MalformedPerMille = 5

  private val GrandPrix = Vector("Bahrain", "Jeddah", "Melbourne", "Baku",
    "Miami", "Imola", "Monaco", "Barcelona", "Montreal", "Spielberg",
    "Silverstone", "Budapest", "Spa", "Zandvoort", "Monza", "Singapore",
    "Suzuka", "Lusail", "Austin", "Mexico", "Interlagos", "Las Vegas")

  /** Session `idx` of the season generated from `seed`. */
  def session(seed: Long, idx: Int, dueMs: Long): Vector[Line] = {
    val rng = new SplittableRandom(seed * 1000003L + idx)
    // partial Fisher–Yates: the first Grid entries are the finishing order
    val pool = Array.tabulate(DriverPool)(_ + 1)
    for (i <- 0 until Grid) {
      val j = i + rng.nextInt(DriverPool - i)
      val t = pool(i); pool(i) = pool(j); pool(j) = t
    }
    val key = s"s$seed-$idx"
    val date = java.time.Instant.ofEpochSecond(1677978000L + idx * 3600L).toString
      .replace("Z", "+00:00")
    val out = Vector.newBuilder[Line]
    for (p <- 1 to Grid) {
      val dnf = rng.nextInt(100) < 5
      val rec = RaceRecord(key, s"m$seed-${idx / 3}", GrandPrix(idx % GrandPrix.size),
        date, pool(p - 1),
        if (rng.nextInt(1000) < NullPositionPerMille) None else Some(p),
        if (dnf) rng.nextInt(57) else 57, dnf,
        if (p == 1) None
        else Some(String.format(Locale.ROOT, "+%d.%03d",
          Int.box(p * 3 + rng.nextInt(3)), Int.box(rng.nextInt(1000)))),
        dueMs)
      out += Rec(rec)
      if (rng.nextInt(1000) < ResendPerMille) out += Rec(rec)
      if (rng.nextInt(1000) < MalformedPerMille)
        out += Malformed(rec.json.substring(0, 1 + rng.nextInt(rec.json.length - 2)))
    }
    out.result()
  }

  /** The lines of sessions [from, until), due at `dueMs`. */
  def sessions(seed: Long, from: Int, until: Int, dueMs: Long): Vector[Line] =
    (from until until).iterator.flatMap(session(seed, _, dueMs)).toVector

  def render(lines: Seq[Line]): Array[Byte] =
    lines.iterator.map(_.text + "\n").mkString.getBytes(UTF_8)

  def fileName(i: Int): String = f"part-$i%05d.jsonl"

  /** Publishes `bytes` as file `i` of `dir`: written beside it, then renamed
    * in one step, so the file source never lists a partial file.
    */
  def publish(staging: Path, dir: Path, i: Int, bytes: Array[Byte]): Unit = {
    val tmp = staging.resolve(fileName(i))
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(fileName(i)), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The drivers dimension for the whole pool. */
  def drivers: Seq[(String, String, String)] =
    (1 to DriverPool).map(d => (d.toString, s"Driver $d", s"img/$d.png"))
}
