package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its metrics: a `detail` line with the
  * workload's own readings and host context, then the result as the last
  * line. Exits 1 when any operation failed or any output check mismatched.
  *
  *   Main --workload f1_stream --seed 1 --seconds 10 --trace 0 \
  *        --out perfbench/out --sf <sf0.1 fixture dir>
  */
object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "f1_stream" -> (() => new F1Stream),
    "sf01_corpus" -> (() => new Sf01Corpus))

  /** The deployment confs `graft.Bench` documents, and no dev levers. */
  def session(cores: Int, out: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.BareLocalFileSystem].getName)
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()

  private def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Host steal ticks so far (the 8th field of /proc/stat's cpu line). */
  private def stealTicks(): Long = Try {
    val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
    line.trim.split("\\s+")(8).toLong
  }.getOrElse(0L)

  private def bootId(): String =
    Try(new String(Files.readAllBytes(Paths.get("/proc/sys/kernel/random/boot_id")), UTF_8).trim)
      .getOrElse("unknown")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"${str(n)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts.getOrElse("workload", "")
    if (!Workloads.contains(name)) {
      System.err.println(s"unknown workload '$name'; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val seed = opts("seed").toLong
    val secs = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val out = Paths.get(opts.getOrElse("out", "perfbench/out")).toAbsolutePath
    val w = Workloads(name)()
    val work = out.resolve(s"work-$name")
    Harness.rmrf(work)
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors

    val (spark, sessionS) = seconds(session(cores, out))
    spark.sparkContext.setLogLevel("WARN")
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val tasks = if (traced) Some(new TaskCollector) else None
    tasks.foreach(spark.sparkContext.addSparkListener)
    val c = new Ctx(spark, work, seed, secs, opts("sf"), tasks, progress)

    var setup = Map.empty[String, Double]
    var phase = Map.empty[String, Double]
    try {
      val prepS = (0 until 3).map(rep => seconds(w.prepare(c, rep))._2)
      val warmS = seconds(w.warm(c))._2
      setup = Map("session_s" -> sessionS, "prepare_s" -> Stats.median(prepS), "warm_s" -> warmS)
      c.drain()
      c.spans.clear()
      tasks.foreach(_.reset())
      val (steal0, t0) = (stealTicks(), System.nanoTime())
      w.run(c)
      val phaseS = (System.nanoTime() - t0) / 1e9
      phase = Map(
        "phase_s" -> phaseS,
        "steal_ticks_per_s" -> (stealTicks() - steal0) / phaseS,
        "retained_heap_mb" -> Harness.retainedHeapMb())
      c.drain()
      tasks.foreach { t =>
        val all = t.group(TaskCollector.All)
        val rounds = math.max(1, c.spans.named("round").size).toDouble
        c.layers ++= Seq(
          "spark.task_cpu_s" -> all.cpuNs / 1e9 / rounds,
          "spark.gc_s" -> all.gcMs / 1e3 / rounds,
          "spark.shuffle_bytes" -> all.shuffleBytes / rounds,
          "spark.spill_bytes" -> all.spillBytes / rounds,
          "spark.tasks" -> all.tasks / rounds)
      }
      w.check(c)
    } catch { case e: Throwable =>
      e.printStackTrace()
      c.mismatch(s"$name crashed: $e")
    } finally {
      spark.streams.active.foreach { q => q.stop(); q.awaitTermination() }
      spark.stop()
      Harness.rmrf(work)
    }

    val correct = c.failed == 0 && c.attempted > 0
    val e2e = w.endToEnd ++ setup.get("session_s").map(_ => "setup_s" ->
      (setup("session_s") + setup("prepare_s") + setup("warm_s")))
    phase.get("retained_heap_mb").foreach(c.note("retained_heap_mb", _, "MB"))
    val metrics =
      if (traced) Metrics.PerLayer.map(m => (m.name, c.layers.getOrElse(m.name, 0d), m.unit))
      else Metrics.EndToEnd.map(m => (m.name, e2e.getOrElse(m.name, Double.NaN), m.unit))
    val result = s"""{"correct":$correct,"attempted":${math.max(1, c.attempted)},""" +
      s""""failed":${c.failed},"metrics":${metricsJson(metrics)}}"""

    val host = Seq(("nproc", cores.toDouble, "count"),
      ("steal_ticks_per_s", phase.getOrElse("steal_ticks_per_s", Double.NaN), "1/s"))
    // the untraced pair of a traced run: the last correct untraced run of
    // this workload, used only when it had the same seed on the same boot
    val last = out.resolve(s"last-untraced-$name.tsv")
    val untracedKey = s"$seed\t${bootId()}"
    val overhead = if (!traced) "" else {
      val lines = if (Files.exists(last)) Files.readAllLines(last).asScala.toVector else Vector.empty
      val why = if (lines.isEmpty) Some("no correct untraced run of this workload yet")
        else if (lines.head != untracedKey) Some(s"the last untraced run was not seed $seed on this boot")
        else None
      val untraced = lines.drop(1).map(_.split("\t")).collect { case Array(k, v) => k -> v.toDouble }.toMap
      val diff = Metrics.EndToEnd.map(m => (m.name,
        if (why.isEmpty) e2e.getOrElse(m.name, Double.NaN) - untraced.getOrElse(m.name, Double.NaN)
        else Double.NaN, m.unit))
      s""","overhead_reason":${why.fold("null")(str)},"traced_minus_untraced":${metricsJson(diff)}"""
    }
    println(s"""detail {"workload":${str(name)},"seed":$seed,"trace":$traced,""" +
      s""""boot_id":${str(bootId())},"host":${metricsJson(host)},""" +
      s""""setup":${metricsJson(setup.toSeq.sorted.map { case (k, v) => (k, v, "s") })},""" +
      s""""phase_s":${num(phase.getOrElse("phase_s", Double.NaN))},""" +
      s""""workload_metrics":${metricsJson(c.detail.toSeq)},""" +
      s""""problems":${c.problems.take(20).map(str).mkString("[", ",", "]")}$overhead}""")
    if (traced) c.spans.write(out.resolve(s"trace-$name-seed$seed.jsonl"))
    else if (correct) Files.write(last, (untracedKey +: Metrics.EndToEnd.map(m =>
      s"${m.name}\t${e2e.getOrElse(m.name, Double.NaN)}")).mkString("", "\n", "\n").getBytes(UTF_8))
    println(result)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
