package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (spark_guide.md): UTC, small shuffle
  * width, AQE on — mirrors Verify/Bench config.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // sort-based shuffle writer even for narrow shuffles — the
    // bypass-merge writer's per-reducer file churn dominates tiny-data
    // exchanges (Bench.scala's round-15 measurement; same rationale)
    .config("spark.shuffle.sort.bypassMergeThreshold", "0")
    // graft.Bench's codegen deployment confs (its round-17 comments):
    // without them StreamingSpec's compile-stability case measured ~300
    // compiles for the warm-up and the replay alike, so it could not
    // see what the sinks do
    .config("spark.sql.codegen.cache.maxEntries", "1000")
    .config("spark.sql.artifact.isolation.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    // keeper-identity gate for the chmod-free bench filesystem
    // (Bench.scala round-18 conf): GRAFT_TEST_BARE_FS=1 runs the WHOLE
    // suite — exactly-once, crash lattice, keeper identity — on
    // BareLocalFileSystem. Opt-in so the default suite still exercises
    // the stock Hadoop local filesystem.
    if (sys.env.get("GRAFT_TEST_BARE_FS").contains("1"))
      b.config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.BareLocalFileSystem].getName)
    b.getOrCreate()
  }

  val sf0001 = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs `body` with the session confs `pairs` set, then restores the
    * confs as they were (a stream started inside keeps its own copy).
    */
  def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val prior = pairs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
