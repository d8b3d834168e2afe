package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.F1Ops
import graft.streaming.RaceIngest

/** The race pipeline's entry points as the benchmark calls them, and the
  * layer readings taken around them.
  */
object F1 {
  val Names: Map[String, String] = Gen.drivers.map(d => d._1 -> d._2).toMap

  /** One exactly-once standings + podium read of the sink, as a dashboard
    * makes it.
    */
  def read(c: Ctx, sink: Path, totalRaces: Long): (Vector[Standing], Vector[String]) = {
    import c.spark.implicits._
    val drivers = Gen.drivers.toDF("driver_number", "driver_name", "headshot_url")
    val st = F1Ops.standings(RaceIngest.readExactlyOnce(c.spark, sink.toString),
      drivers, lit(totalRaces))
    val rows = st.select("driver_number", "driver_name", "points", "wins", "win_rate")
      .collect().map(r => Standing(r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toVector
    (rows, F1Ops.podium(st).select("driver_number").collect().map(_.getString(0)).toVector)
  }

  /** Compares a read with the reference standings. */
  def matches(got: (Vector[Standing], Vector[String]), want: Vector[Standing]): Boolean =
    got._1 == want && got._2 == want.take(3).map(_.driver)

  def start(c: Ctx, src: Path, sink: Path, cp: Path, trigger: Trigger,
      maxFiles: Option[Int]): StreamingQuery = {
    val reader = c.spark.readStream
    maxFiles.foreach(n => reader.option("maxFilesPerTrigger", n.toLong))
    RaceIngest.startParquetSink(reader.text(src.toString), sink.toString, cp.toString, trigger)
  }

  /** Per-trigger layer readings from Spark's progress reports. The
    * per-record readings come from the `catchUp` triggers, where they
    * dominate; the per-trigger ones from the `live` triggers, where those
    * do. The lag reading follows `live`, with `published` giving the
    * input records published by a time.
    */
  def ingestLayers(c: Ctx, catchUp: Seq[Progress], live: Seq[Progress],
      published: Long => Long): Unit = {
    def p50(ps: Seq[Progress])(f: Progress => Double) = Stats.median(ps.map(f))
    c.layers ++= Seq(
      "ingest.add_batch_ms_p50" -> p50(catchUp)(_.duration("addBatch")),
      "ingest.rows_per_trigger" -> p50(catchUp)(_.p.numInputRows.toDouble),
      "ingest.trigger_ms_p50" -> p50(live)(_.duration("triggerExecution")),
      "ingest.plan_ms_p50" -> p50(live)(_.duration("queryPlanning")),
      "ingest.offsets_ms_p50" -> p50(live)(p => p.duration("latestOffset") +
        p.duration("getBatch") + p.duration("walCommit")),
      "ingest.commit_ms_p50" -> p50(live)(_.duration("commitOffsets")),
      "ingest.triggers" -> live.size.toDouble)
    var landed = 0L
    var lag = 0L
    live.sortBy(_.receivedNs).foreach { p =>
      val startNs = p.receivedNs - (p.duration("triggerExecution") * 1e6).toLong
      lag = math.max(lag, published(startNs) - landed)
      landed += p.p.numInputRows
    }
    c.layers("ingest.lag_records_max") = lag.toDouble
  }

  /** The parse/derive chain alone, as a batch over `src` into the `noop`
    * sink; returns its wall seconds.
    */
  def parseDerive(c: Ctx, src: Path): Double = {
    c.spans.time("f1ops.batch") { _ =>
      c.inGroup("f1ops") {
        RaceIngest.transform(c.spark.read.text(src.toString))
          .write.format("noop").mode("overwrite").save()
      }
    }
    c.spans.named("f1ops.batch").last.ms / 1e3
  }

  /** Traced only: the serve layer's task metrics per read. */
  def serveLayers(c: Ctx, reads: Int, filesRead: Seq[Double]): Unit = {
    val t = c.tasks.get.group("serve")
    c.layers ++= Seq(
      "serve.files_read" -> Stats.median(filesRead),
      "serve.rows_read" -> t.inputRecords.toDouble / reads,
      "serve.shuffle_bytes" -> t.shuffleBytes.toDouble / reads,
      "serve.cpu_s" -> t.cpuNs / 1e9 / reads)
  }
}

/** `f1_stream`: the paper's pipeline in its two regimes. A seeded backlog
  * is replayed through the parquet sink in large AvailableNow triggers,
  * where per-record cost dominates (parse, derive, encode). Meanwhile a
  * second sink runs live on the default trigger: in stretches between the
  * replays an open-loop generator publishes one file per tick, where
  * per-trigger cost dominates; at the end one dashboard client also reads
  * standings in a closed loop, where the serve path joins it.
  */
final class F1Stream extends Workload {
  val BacklogFiles = 16
  val SessionsPerBacklogFile = 250
  val FilesPerTrigger = 8
  /** The timed phase runs in rounds, so that each reading's samples
    * spread over the whole phase rather than one stretch of it: co-tenant
    * steal comes in bursts of tens of seconds. A round is one catch-up,
    * BatchReps batch passes and a reader-free live stretch.
    */
  val Rounds = 3
  val BatchReps = 2
  val TickMs = 100
  val SessionsPerTick = 5
  /** Commit latency is read from the ticks of the reader-free stretches,
    * LatencyShare of the run's seconds in all; the dashboard then reads
    * against the live ingest for ReadsShare of them.
    */
  val LatencyShare = 0.8
  val ReadsShare = 0.5
  val WarmTicks = 40
  val WarmFilesPerTrigger = 2

  private val backlogSessions = BacklogFiles * SessionsPerBacklogFile
  private var backlog: Vector[Vector[Line]] = _
  private var live: Vector[Vector[Line]] = _
  private var liveBytes: Vector[Array[Byte]] = _
  private var backlogDir: Path = _
  private var due: Array[Long] = _
  private var q: StreamingQuery = _
  private var replays = Vector.empty[java.util.UUID]
  private var liveSpan = 0
  private val lateMs = mutable.ArrayBuffer.empty[Double]
  private val publishedAt = mutable.ArrayBuffer.empty[Long]
  // (start ns, end ns, result, parquet files in the sink when it began)
  private val reads = mutable.ArrayBuffer.empty[(Long, Long, (Vector[Standing], Vector[String]), Int)]
  private var readFailures = 0
  private var e2e = Map.empty[String, Double]

  def endToEnd: Map[String, Double] = e2e

  private def roundTicks(c: Ctx): Int = (c.seconds * 1000 * LatencyShare / Rounds / TickMs).toInt

  private def latencyTicks(c: Ctx): Int = Rounds * roundTicks(c)

  private def liveRaces: Long = live.size.toLong * SessionsPerTick

  /** Writes the backlog files and renders the live schedule's files. */
  def prepare(c: Ctx, rep: Int): Unit = {
    val ticks = latencyTicks(c) + (c.seconds * 1000 * ReadsShare / TickMs).toInt
    val b = (0 until BacklogFiles).map(f => Gen.sessions(c.seed,
      f * SessionsPerBacklogFile, (f + 1) * SessionsPerBacklogFile, 0L)).toVector
    val l = (0 until ticks).map(i => Gen.sessions(c.seed,
      backlogSessions + i * SessionsPerTick, backlogSessions + (i + 1) * SessionsPerTick,
      i.toLong * TickMs)).toVector
    val dir = c.fresh(s"backlog-$rep")
    b.zipWithIndex.foreach { case (ls, f) => Files.write(dir.resolve(Gen.fileName(f)), Gen.render(ls)) }
    val lb = l.map(Gen.render)
    if (rep == 0) {
      backlog = b; live = l; liveBytes = lb; backlogDir = dir
    } else {
      val same = (0 until BacklogFiles).forall(f => java.util.Arrays.equals(
          Files.readAllBytes(dir.resolve(Gen.fileName(f))),
          Files.readAllBytes(backlogDir.resolve(Gen.fileName(f))))) &&
        lb.indices.forall(i => java.util.Arrays.equals(lb(i), liveBytes(i)))
      if (!same) c.mismatch("input files differ between set-ups of one seed")
      Harness.rmrf(dir)
    }
  }

  /** One AvailableNow replay of `src` into a fresh sink; its wall seconds. */
  private def catchUp(c: Ctx, src: Path): Double = {
    val (sink, cp) = (c.fresh("catchup-sink"), c.fresh("catchup-cp"))
    val r = c.spans.time("ingest.catch_up") { _ =>
      val r = F1.start(c, src, sink, cp, Trigger.AvailableNow(), Some(FilesPerTrigger))
      r.awaitTermination()
      r
    }
    replays :+= r.runId
    c.op(r.exception.isEmpty, s"catch-up failed: ${r.exception}")
    c.spans.named("ingest.catch_up").last.ms / 1e3
  }

  /** Two replays of the backlog, then a read; then the first ticks as a
    * stream of small triggers, as the live query runs them: the phase's
    * code paths, warmed once. The per-trigger paths run only once per
    * trigger, so without the second part the live query's first dozen
    * triggers are still warming.
    */
  def warm(c: Ctx): Unit = {
    (1 to 2).foreach(_ => catchUp(c, backlogDir))
    F1.read(c, c.work.resolve("catchup-sink"), backlogSessions)
    replays = Vector.empty

    val ticks = c.fresh("warm-ticks")
    (0 until WarmTicks).foreach(i => Files.write(ticks.resolve(Gen.fileName(i)), liveBytes(i)))
    val q = F1.start(c, ticks, c.fresh("warm-sink"), c.fresh("warm-cp"), Trigger.ProcessingTime(0L),
      Some(WarmFilesPerTrigger))
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
  }

  def run(c: Ctx): Unit = {
    val cpu0 = Harness.cpuNs()
    val (src, staging, sink) = (c.fresh("src"), c.fresh("staging"), c.fresh("sink"))
    due = new Array[Long](live.size)
    val catchUpS = mutable.ArrayBuffer.empty[Double]
    val batchS = mutable.ArrayBuffer.empty[Double]
    c.spans.time("ingest.live") { span =>
      liveSpan = span
      q = F1.start(c, src, sink, c.fresh("cp"), Trigger.ProcessingTime(0L), Some(FilesPerTrigger))
      val n = roundTicks(c)
      (0 until Rounds).foreach { r =>
        catchUpS += catchUp(c, backlogDir)
        (1 to BatchReps).foreach(_ => batchS += F1.parseDerive(c, backlogDir))
        publish(c, src, staging, r * n until (r + 1) * n, None)
      }
      publish(c, src, staging, latencyTicks(c) until live.size, Some(sink))
      q.stop(); q.awaitTermination()
    }
    c.drain()
    val cpu = Harness.cpuNs() - cpu0
    val backlogLines = backlog.map(_.size).sum
    c.note("ingest_records_per_s", backlogLines / Stats.median(catchUpS.toSeq), "records/s")
    e2e = Map(
      "throughput_per_s" -> backlogLines / Stats.median(catchUpS.toSeq),
      "batch_s" -> Stats.median(batchS.toSeq),
      "cpu_s" -> cpu / 1e9)
  }

  /** Publishes one file per tick of `ticks` on a schedule from now, open
    * loop, while the live query runs; with a `sink`, one dashboard client
    * reads it meanwhile. Returns once every published file has landed.
    */
  private def publish(c: Ctx, src: Path, staging: Path, ticks: Range, sink: Option[Path]): Unit = {
    @volatile var done = false
    val dashboard = sink.map(s => new Thread(() => {
      c.spark.sparkContext.setJobGroup("serve", "serve", interruptOnCancel = false)
      while (!done) {
        val nFiles = if (c.traced) Harness.files(s, ".parquet") else 0
        val t = System.nanoTime()
        try {
          val got = F1.read(c, s, liveRaces)
          val e = System.nanoTime()
          reads += ((t, e, got, nFiles))
          c.spans.add("serve.read", liveSpan, t, e)
        } catch { case e: Exception =>
          System.err.println(s"dashboard read failed: $e")
          readFailures += 1
        }
      }
    }, "perfbench-dashboard"))
    dashboard.foreach(_.start())
    val start = System.nanoTime()
    ticks.zipWithIndex.foreach { case (i, k) =>
      due(i) = start + k * TickMs * 1000000L
      while (System.nanoTime() < due(i)) LockSupport.parkNanos(due(i) - System.nanoTime())
      Gen.publish(staging, src, i, liveBytes(i))
      val now = System.nanoTime()
      publishedAt += now
      lateMs += (now - due(i)) / 1e6
    }
    done = true
    q.processAllAvailable()
    dashboard.foreach(_.join())
  }

  def check(c: Ctx): Unit = {
    c.op(F1.matches(F1.read(c, c.work.resolve("catchup-sink"), backlogSessions),
        Oracle.standings(backlog.flatten, F1.Names, backlogSessions)),
      "backlog standings differ from the reference")

    val sink = c.work.resolve("sink")
    val batchOf: Map[String, Long] = c.spark.read.parquet(sink.toString)
      .select(col("session_key"), col("batch_id").cast("long")).distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // a file never splits across micro-batches, so each lands in one batch
    val tickBatch: Vector[Option[Long]] = live.map { ls =>
      val bs = ls.collect { case Rec(r) => batchOf.get(r.sessionKey) }.distinct
      if (bs.size == 1) bs.head else None
    }
    tickBatch.zipWithIndex.foreach { case (b, i) =>
      c.op(b.isDefined, s"live file $i did not land in exactly one batch")
    }
    val batchIds = tickBatch.flatten.distinct.sorted
    val ticksOf = batchIds.map(b => live.indices.filter(tickBatch(_).contains(b)))
    val totals = Oracle.prefixTotals(ticksOf.map(_.flatMap(live)))
    val prefixDue = ticksOf.map(_.map(due).max).scanLeft(0L)(math.max).tail
    val landed = c.progress.of(q.runId).map(p => p.batchId -> p.receivedNs).toMap
    c.succeeded((q.runId +: replays).map(c.progress.of(_).size).sum)

    // commit latency per live tick of the reader-free stretches; a tick's
    // sessions share its due time and its batch, so per-session percentiles
    // equal per-tick ones, and the tick count is the sample count
    val window = tickBatch.take(latencyTicks(c)).zipWithIndex.collect { case (Some(b), i) => (b, i) }
    val perTick = window.map { case (b, i) => (landed(b) - due(i)) / 1e6 }
    // the median of the rounds' medians, so that one round hit by a burst
    // of steal does not move it
    val latencyMs = Stats.median(window.zip(perTick).groupBy(_._1._2 / roundTicks(c))
      .values.map(r => Stats.median(r.map(_._2))).toSeq)
    e2e += "latency_ms_p50" -> latencyMs
    c.note("commit_latency_ms_p50", latencyMs, "ms")
    Stats.tailPercentile(perTick.size).filter(_ > 50).foreach(p =>
      c.note(s"commit_latency_ms_p${Stats.label(p)}", Stats.percentile(perTick, p), "ms"))
    c.note("commit_sessions", perTick.size.toDouble * SessionsPerTick, "count")
    c.note("commit_batches", window.map(_._1).distinct.size.toDouble, "count")

    (1 to readFailures).foreach(_ => c.op(false, "a dashboard read threw"))
    val fresh = reads.zipWithIndex.flatMap { case ((_, end, got, _), i) =>
      Oracle.matchPrefix(totals, Oracle.totalPoints(got._1)) match {
        case None =>
          c.op(false, s"read $i matches no batch prefix")
          None
        case Some(k) =>
          val want = Oracle.standings(ticksOf.take(k + 1).flatMap(_.flatMap(live)),
            F1.Names, liveRaces)
          c.op(F1.matches(got, want), s"read $i differs from the reference at batch prefix $k")
          Some((end - prefixDue(k)) / 1e6)
      }
    }.toVector
    val readMs = reads.map(r => (r._2 - r._1) / 1e6).toVector
    e2e += "read_ms_p50" -> Stats.median(readMs)
    c.note("standings_ms_p50", Stats.median(readMs), "ms")
    c.note("freshness_ms_p50", Stats.median(fresh), "ms")
    Stats.tailPercentile(readMs.size).filter(_ > 50).foreach { p =>
      c.note(s"standings_ms_p${Stats.label(p)}", Stats.percentile(readMs, p), "ms")
      c.note(s"freshness_ms_p${Stats.label(p)}", Stats.percentile(fresh, p), "ms")
    }
    c.note("reads", readMs.size.toDouble, "count")
    c.note("gen_late_ms_max", lateMs.max, "ms")

    c.op(F1.matches(F1.read(c, sink, liveRaces), Oracle.standings(live.flatten, F1.Names, liveRaces)),
      "final live standings differ from the reference")

    if (c.traced) {
      c.progress.of(q.runId).foreach(p => c.spans.add("ingest.trigger", liveSpan,
        p.receivedNs - (p.duration("triggerExecution") * 1e6).toLong, p.receivedNs))
      val pub = publishedAt.toVector.zip(live.map(_.size.toLong).scanLeft(0L)(_ + _).tail)
      F1.ingestLayers(c, replays.flatMap(c.progress.of), c.progress.of(q.runId),
        at => pub.takeWhile(_._1 <= at).lastOption.fold(0L)(_._2))
      c.layers ++= Seq(
        "f1ops.parse_derive_s" -> e2e("batch_s"),
        "f1ops.parse_derive_cpu_s" -> c.tasks.get.group("f1ops").cpuNs / 1e9 / (Rounds * BatchReps),
        "sink.files_written" -> Harness.files(sink, ".parquet").toDouble,
        "sink.bytes_written" -> c.tasks.get.group(q.runId.toString).outputBytes.toDouble,
        "gen.late_ms_max" -> lateMs.max)
      F1.serveLayers(c, reads.size, reads.map(_._4.toDouble).toSeq)
    }
  }
}
