package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench wiring invariants — pure map/list consistency, no Spark
  * session. A floor keyed on a misspelled query name would silently
  * never check anything (the breach rule only consults
  * `floorMap.contains`), so the tripwire itself needs a tripwire.
  */
class BenchSpec extends AnyFunSuite {

  test("headline names are unique and all resolve to SparkEntry queries") {
    val dup = Bench.headline.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    assert(dup.isEmpty, s"duplicate headline entries: $dup")
    val missing = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"headline names without a query: $missing")
  }

  test("every sf0.1 floor keys a headline query, positively") {
    val orphans = Bench.floors.keySet -- Bench.headline.toSet
    assert(orphans.isEmpty, s"floors keyed on non-headline names: $orphans")
    val nonPos = Bench.floors.collect { case (k, v) if v <= 0 => k }
    assert(nonPos.isEmpty, s"non-positive floors: $nonPos")
    // the protocol pins a floor for EVERY headline query after each
    // round's clean run — a gap means a query escaped the tripwire
    val unpinned = Bench.headline.toSet -- Bench.floors.keySet
    assert(unpinned.isEmpty, s"headline queries without an sf0.1 floor: $unpinned")
  }

  test("every sf1 floor keys a headline query, positively") {
    val orphans = Bench.floorsSf1.keySet -- Bench.headline.toSet
    assert(orphans.isEmpty, s"sf1 floors keyed on non-headline names: $orphans")
    val nonPos = Bench.floorsSf1.collect { case (k, v) if v <= 0 => k }
    assert(nonPos.isEmpty, s"non-positive sf1 floors: $nonPos")
    assert(Bench.floorsSf1.size >= 20,
      "the sf1 tripwire covers the top-20 headline queries (round 17)")
  }

  test("SPARK_GRAFT_CPUS must be a positive integer, and the refusal names it") {
    assert(Bench.cpusSetting(None) == "32")
    assert(Bench.cpusSetting(Some(" 8 ")) == "8")
    Seq("", "eight", "0", "-4", "8x", "4.0").foreach { bad =>
      val e = intercept[IllegalArgumentException](Bench.cpusSetting(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("the streaming floor pin is positive when present") {
    assert(Bench.curationSinkFloorSec.forall(_ > 0))
  }

  test("stage floors key real StageClock stages, positively and completely") {
    // the stage names curationBatch actually bills — a floor keyed on a
    // renamed stage would silently never check anything (same failure
    // class as a misspelled query floor), and a stage WITHOUT a floor
    // is a place a regression can hide inside a flat total. DERIVED
    // from CorpusIngest, not a second hardcoded copy (ADVICE r15: two
    // copies of the set drift together) — CorpusIngest.BilledStages is
    // the single source of truth curationBatch's labels are kept to.
    val stages = graft.streaming.CorpusIngest.BilledStages
    val orphans = Bench.curationStageFloorsSec.keySet -- stages
    assert(orphans.isEmpty, s"stage floors keyed on unknown stages: $orphans")
    val unpinned = stages -- Bench.curationStageFloorsSec.keySet
    assert(unpinned.isEmpty, s"stages without a floor: $unpinned")
    val nonPos = Bench.curationStageFloorsSec.collect { case (k, v) if v <= 0 => k }
    assert(nonPos.isEmpty, s"non-positive stage floors: $nonPos")
    // the sf1 twin maps obey the same contract
    assert(Bench.curationStageFloorsSecSf1.keySet === stages,
      "sf1 stage floors must key exactly the billed stages")
    assert(Bench.curationStageFloorsSecSf1.values.forall(_ > 0))
    assert(Bench.curationSinkFloorSecSf1.forall(_ > 0))
  }

  test("quietWindow scales the steal guard to the query's own duration") {
    // sub-second queries keep the original absolute <50 semantics
    assert(Bench.quietWindow(0.3, 49) && !Bench.quietWindow(0.3, 50))
    // minute-long sf1 queries are judged per second — an absolute bound
    // made the sf1 tripwire unfireable (round-14 review finding)
    assert(Bench.quietWindow(80.0, 3999) && !Bench.quietWindow(80.0, 4001))
    // the clean-regime reading (~31 ticks/s) passes; contended (80+/s) fails
    assert(Bench.quietWindow(60.0, 1860) && !Bench.quietWindow(60.0, 4800))
  }

  test("confirmedBreach pools sub-second sample windows before certifying quiet") {
    // floor 0.371 (BENCH_r15's qe21 shape): three 0.49 s samples at
    // 1.33× with ZERO observed ticks pool to a 1.47 s quiet window —
    // a genuinely quiet confirmed breach still fires
    val floor = 0.371
    assert(Bench.confirmedBreach(floor,
      Seq((0.493, 0L, false), (0.50, 0L, false), (0.52, 0L, false))))
    // the round-15 artifact's actual blind spot: the same three
    // readings inside a ~52-ticks/s run — each individual 0.49 s window
    // could sample ~0 ticks by /proc/stat granularity luck, but pooled
    // sampling sees the load (78 ticks over 1.51 s ≈ 52/s) and the
    // confirm ABSTAINS instead of certifying
    assert(!Bench.confirmedBreach(floor,
      Seq((0.493, 26L, false), (0.50, 26L, false), (0.52, 26L, false))))
    // min-of-samples is the breach statistic: one clean sample back at
    // the floor kills the breach even when two others read high
    assert(!Bench.confirmedBreach(floor,
      Seq((0.60, 0L, false), (0.38, 0L, false), (0.55, 0L, false))))
    // a crashed sample can never certify a breach
    assert(!Bench.confirmedBreach(floor,
      Seq((0.493, 0L, false), (0.50, 0L, true), (0.52, 0L, false))))
    assert(!Bench.confirmedBreach(floor, Nil))
  }

  test("floor placement fingerprint is pinned and readable on this host") {
    // ADVICE r17 #4: floors are per-placement calibration, so the pin
    // must carry the placement it was taken on. The pinned id must be
    // a well-formed boot id, and the bench must be able to read the
    // live one (staleness routing is only disabled when /proc is
    // genuinely unavailable).
    val uuidRe = "^[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}$".r
    assert(Bench.floorPlacementBootId.nonEmpty,
      "floors without a placement fingerprint regress to the one-way ratchet")
    assert(Bench.floorPlacementBootId.forall(id => uuidRe.findFirstIn(id).isDefined))
    assert(Bench.currentBootId.forall(id => uuidRe.findFirstIn(id).isDefined))
    assert(Bench.currentBootId.nonEmpty, "boot id unreadable on this host")
  }
}
