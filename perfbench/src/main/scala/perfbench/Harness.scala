package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One workload: inputs are prepared several times (the set-up the
  * benchmark reports), the program is warmed once, then `run` measures
  * for the run's seconds and `check`, outside the timed phase, compares
  * outputs with references and derives what needs them.
  */
trait Workload {
  def prepare(c: Ctx, rep: Int): Unit
  def warm(c: Ctx): Unit
  def run(c: Ctx): Unit
  def check(c: Ctx): Unit
  /** The end-to-end metrics other than setup_s. */
  def endToEnd: Map[String, Double]
}

/** What every workload shares: the session, the run's parameters, its
  * spans and listeners, and the tally of operations and failures.
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Int, val sfDir: String, val tasks: Option[TaskCollector],
    val progress: ProgressLog) {
  val spans = new Spans
  /** Per-layer metrics of a traced run; unset ones print as 0. */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Workload-specific readings, printed beside the result. */
  val detail = mutable.ArrayBuffer.empty[(String, Double, String)]
  private var attempts = 0
  private val failures = mutable.ArrayBuffer.empty[String]

  def traced: Boolean = tasks.isDefined
  def attempted: Int = attempts
  def failed: Int = failures.size
  def problems: Seq[String] = failures.toSeq

  /** Counts one operation, failed unless `ok`. */
  def op(ok: Boolean, what: => String): Unit = synchronized {
    attempts += 1
    if (!ok) failures += what
  }

  def succeeded(n: Int): Unit = synchronized(attempts += n)

  /** Counts an output mismatch found after the fact as one more failure. */
  def mismatch(what: String): Unit = synchronized(failures += what)

  def note(name: String, value: Double, unit: String): Unit = detail += ((name, value, unit))

  /** An empty directory under the run's work directory. */
  def fresh(name: String): Path = {
    val p = work.resolve(name)
    Harness.rmrf(p)
    Files.createDirectories(p)
  }

  def drain(): Unit = org.apache.spark.ListenerBusDrain(spark.sparkContext)

  /** Runs `round(index, span id)` until the run's seconds are spent, never
    * starting one the median round so far would not finish in time, and
    * always at least once. Returns (wall ns, process CPU ns) per round.
    */
  def rounds(round: (Int, Int) => Unit): Vector[(Long, Long)] = {
    val budget = seconds * 1000000000L
    val t0 = System.nanoTime()
    val out = Vector.newBuilder[(Long, Long)]
    var walls = Vector.empty[Double]
    var n = 0
    while (n == 0 || System.nanoTime() - t0 + Stats.median(walls) <= budget) {
      val (w0, c0) = (System.nanoTime(), Harness.cpuNs())
      spans.time("round") { id => round(n, id) }
      val r = (System.nanoTime() - w0, Harness.cpuNs() - c0)
      out += r
      walls :+= r._1.toDouble
      n += 1
    }
    out.result()
  }

  /** Runs `f` with its Spark jobs tagged as `group`. */
  def inGroup[A](group: String)(f: => A): A = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    try f finally spark.sparkContext.clearJobGroup()
  }
}

object Harness {
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap still in use after a full collection: the live set, which unlike
    * heap occupancy does not follow the collector's sizing of the young
    * generation.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576d
  }

  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toVector.reverseIterator.foreach(Files.deleteIfExists)
      finally all.close()
    }

  /** Regular files under `p` named with `suffix`, at any depth. */
  def files(p: Path, suffix: String): Int =
    if (!Files.exists(p)) 0
    else {
      val all = Files.walk(p)
      try all.iterator().asScala.count(f =>
        Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix))
      finally all.close()
    }

  /** Order-independent fingerprint of a result, computed in Spark: row
    * count and the exact sum of per-row hashes of the rows' JSON.
    */
  def fingerprint(df: DataFrame): String = {
    val r = df.select(xxhash64(to_json(struct(col("*")))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).fold("0")(_.toString)}"
  }

  /** Order-independent fingerprint of collected rows. */
  def fingerprint(rows: Seq[Row]): String =
    s"${rows.size}:${rows.map(r => MurmurHash3.stringHash(r.mkString("\u0001")).toLong).sum}"
}
