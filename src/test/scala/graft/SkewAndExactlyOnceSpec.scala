package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.SkewOps
import graft.streaming.RaceIngest

/** Salted aggregation correctness (skew path) and the exactly-once read
  * view over the at-least-once streaming sink.
  */
class SkewAndExactlyOnceSpec extends SparkSpec {
  import spark.implicits._

  test("saltedAgg equals the direct aggregation on a skewed key") {
    // hot key: 'hot' has 90% of rows
    val df = (Seq.fill(900)("hot") ++ (1 to 100).map(i => s"k$i"))
      .zipWithIndex.toDF("key", "v")
    val direct = df.groupBy("key")
      .agg(sum("v").as("s"), count(lit(1)).as("c"))
      .orderBy("key").as[(String, Long, Long)].collect()
    val salted = SkewOps.saltedAgg(df, Seq("key"), salts = 8,
      partials = Seq(sum("v").as("ps"), count(lit(1)).as("pc")),
      combine = Seq(sum("ps").as("s"), sum("pc").as("c")))
      .orderBy("key").as[(String, Long, Long)].collect()
    assert(salted.toSeq === direct.toSeq)
    val counted = SkewOps.saltedCount(df, Seq("key"), salts = 8)
      .filter(col("key") === "hot").select("count").as[Long].head()
    assert(counted === 900L)
  }

  test("AQE skew-join: a planted hot join key is split at runtime (isSkewJoin in the final plan)") {
    // SCALE.md's join-skew posture is "AQE skew-join is on" — this pins
    // that the mechanism actually FIRES on a planted hot key, the same
    // way ScanCountSpec pins scan budgets: a join whose left side sends
    // ~80% of its bytes to one key must come out of adaptive planning
    // with the skewed partition split (SortMergeJoinExec.isSkewJoin —
    // AQE rewrites the skewed side into PartialReducerPartitionSpec
    // chunks, each joined against a duplicate of the other side's
    // partition). Thresholds are lowered to test scale because the
    // defaults (256 MB) target real clusters; factor/advisory semantics
    // are unchanged.
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffled join
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16384",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0")
    val saved = confs.keys.map(k =>
      k -> scala.util.Try(spark.conf.get(k)).toOption).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // hot key 7: 25k rows with incompressible ~64 B payloads (md5 hex —
      // shuffle sizes are post-compression, a repetitive pad would
      // deflate under the threshold); 50 cold keys share the remaining 5k
      val left = spark.range(0, 30000).select(
        when(col("id") < 25000, lit(7L)).otherwise(col("id") % 50).as("k"),
        concat(md5(col("id").cast("string")),
          md5((col("id") + 1).cast("string"))).as("payload"))
      val right = spark.range(0, 50).select(
        col("id").as("k"), md5(col("id").cast("string")).as("rv"))
      val joined = left.join(right, "k")
      assert(joined.count() === 30000)
      joined.collect() // finalize THIS df's adaptive plan
      val finalPlan = joined.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      // QueryStageExec nodes are LEAVES to TreeNode.collect — expand their
      // materialized subplans by hand or the join is invisible
      def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val nested = p match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            allNodes(q.plan)
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
            allNodes(w.child)
          case _ => p.children.flatMap(allNodes)
        }
        p +: nested
      }
      val skewJoins = allNodes(finalPlan).collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec if j.isSkewJoin => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec if j.isSkewJoin => j
      }
      assert(skewJoins.nonEmpty,
        s"AQE did not mark the join skew-optimized; final plan:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val FoldKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"
  private val Key = Seq("session_key", "driver_number")

  private def rec(session: String, driver: String, pos: Int, laps: Int = 57): String =
    s"""{"grand_prix":"GP $session","date":"2023-03-05T15:00:00+00:00","driver_number":"$driver","position":$pos,"laps_completed":$laps,"dnf":false,"gap_to_leader":null,"meeting_key":"m$session","session_key":"$session"}"""

  /** Writes one source file per batch, numbered from `from`, with
    * ascending modification times, so that a sink reading one file per
    * trigger gives file i batch id i.
    */
  private def writeBatches(src: String, batches: Seq[Seq[String]], from: Int = 0): Unit =
    batches.zipWithIndex.foreach { case (lines, j) =>
      val f = java.nio.file.Paths.get(src, f"b${from + j}%04d.json")
      java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + (from + j) * 1000L))
    }

  /** One AvailableNow run of the race sink over `src`, a file per trigger. */
  private def runSink(src: String, out: String, cp: String): Unit =
    RaceIngest.startParquetSink(spark.readStream.option("maxFilesPerTrigger", 1L).text(src),
      out, cp, Trigger.AvailableNow()).awaitTermination()

  /** K of every entry under the sink's `_compacted/`, `.tmp` marked. */
  private def bases(out: String): Set[String] =
    Option(new java.io.File(out, "_compacted").list()).fold(Set.empty[String])(_.toSet)
      .filter(_.startsWith("upto=")).map(_.stripPrefix("upto="))

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.select(RaceIngest.SinkSchema.fieldNames.toIndexedSeq.map(f =>
      if (f == "batch_id") col(f).cast("long") else col(f)): _*).collect().map(_.toSeq).toSet

  /** The exactly-once view equals the first-wins dedup of a plain root read. */
  private def assertServesPlainRead(out: String): Unit = {
    val plain = rows(RaceIngest.firstWins(spark.read.parquet(out), Key))
    assert(plain.nonEmpty)
    assert(rows(RaceIngest.readExactlyOnce(spark, out)) === plain)
  }

  test("readExactlyOnce collapses duplicate rows from a replayed batch") {
    // two sink runs with DIFFERENT checkpoints over the same source ≙ a
    // replay after checkpoint loss — the reference's duplicate scenario
    // (blind append would double every row; spark_ingestion.py:116–125).
    // A listing threshold of 4 folds every 2 triggers, so the first run
    // leaves base upto=1 that the second run's batch 0 must drop first
    withSQLConf(FoldKey -> "4") {
      val (src, out) = (tmpDir("eo-src"), tmpDir("eo-out"))
      writeBatches(src, Seq(Seq(rec("s1", "1", 1)), Seq(rec("s2", "1", 2)), Seq(rec("s3", "1", 1))))
      runSink(src, out, tmpDir("eo-cp1"))
      assert(bases(out) === Set("1"))
      runSink(src, out, tmpDir("eo-cp2"))
      // write-side exactly-once: each replayed batch overwrote its own
      // batch_id partition, so the RAW sink already has no duplicates
      assert(spark.read.parquet(out).count() === 3)
      val eo = RaceIngest.readExactlyOnce(spark, out)
      assert(eo.count() === 3) // read view agrees (kept for append-only sinks)
      assert(eo.filter(col("session_key") === "s1").select("points").as[Int].head() === 25)
      assertServesPlainRead(out)

      // a third fresh checkpoint over a source whose first record was
      // corrected: its batch 0 overwrites partition 0 and must drop the
      // base built from the old one, or the view would serve the old row
      val fixed = tmpDir("eo-src-fixed")
      writeBatches(fixed, Seq(Seq(rec("s1", "1", 2))))
      runSink(fixed, out, tmpDir("eo-cp3"))
      assert(bases(out).isEmpty)
      assert(RaceIngest.readExactlyOnce(spark, out)
        .filter(col("session_key") === "s1").select("points").as[Int].head() === 18)
      assertServesPlainRead(out)
    }
  }

  test("readExactlyOnce: an empty sink reads empty standings, a missing one fails PATH_NOT_FOUND") {
    // a dashboard reading an existing sink before its first batch commits
    val empty = tmpDir("eo-empty")
    val eo = RaceIngest.readExactlyOnce(spark, empty)
    assert(eo.schema.fieldNames.toSeq === RaceIngest.SinkSchema.fieldNames.toSeq)
    val drivers = Seq(("1", "Max Verstappen", "u1")).toDF("driver_number", "driver_name", "headshot_url")
    assert(graft.ops.F1Ops.standings(eo, drivers, lit(0L)).collect().isEmpty)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      RaceIngest.readExactlyOnce(spark, new java.io.File(empty, "missing").toString))
    assert(e.getCondition === "PATH_NOT_FOUND")
  }

  test("readExactlyOnce: a drifted in-batch resend serves one row in any file layout") {
    withSQLConf(FoldKey -> "4") {
      val (src, out) = (tmpDir("eo-drift-src"), tmpDir("eo-drift-out"))
      // batch 0 carries two different rows for (s1, 1), the larger first;
      // batch 1 completes the fold point, so batch 0 is served from a base
      writeBatches(src, Seq(Seq(rec("s1", "1", 2, laps = 56), rec("s1", "1", 1), rec("s1", "2", 3)),
        Seq(rec("s2", "1", 1))))
      runSink(src, out, tmpDir("eo-drift-cp"))
      assert(bases(out) === Set("1"))
      val served = RaceIngest.readExactlyOnce(spark, out).filter(col("session_key") === "s1" &&
        col("driver_number") === "1").select("position", "laps_completed").as[(Int, Int)].collect()
      assert(served.toSeq === Seq((1, 57)))
      assertServesPlainRead(out)
    }
  }

  test("race sink fold: a crash before or after the base rename replays to the plain-read view") {
    withSQLConf(FoldKey -> "4") {
      val (src, out, cp) = (tmpDir("eo-crash-src"), tmpDir("eo-crash-out"), tmpDir("eo-crash-cp"))
      // every batch also resends one row of the previous session, drifted,
      // so the first-wins dedup has work in every layout
      def batch(i: Int) = Seq(rec(s"s$i", "1", 1), rec(s"s$i", "2", 2)) ++
        Option.when(i > 0)(rec(s"s${i - 1}", "1", 3))
      def crashingRun(point: String): Unit = {
        graft.streaming.CorpusIngest.FaultInjection.arm(point)
        try {
          val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](runSink(src, out, cp))
          assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(t => String.valueOf(t.getMessage).contains(s"planted fault: $point")))
        } finally graft.streaming.CorpusIngest.FaultInjection.arm(null)
      }
      writeBatches(src, (0 until 4).map(batch))
      // batch 1 folds (0, 1] and dies with the base staged, not renamed
      crashingRun("race-fold-before-rename")
      assert(bases(out) === Set("1.tmp"))
      assertServesPlainRead(out)
      // the restart replays batch 1: the stage goes, the fold reruns
      runSink(src, out, cp)
      assert(bases(out) === Set("1", "3"))
      assertServesPlainRead(out)

      writeBatches(src, (4 until 6).map(batch), from = 4)
      // batch 5's base lands, the old-base sweep never runs
      crashingRun("race-fold-after-rename")
      assert(bases(out) === Set("1", "3", "5"))
      assertServesPlainRead(out)
      runSink(src, out, cp)
      assert(bases(out) === Set("3", "5"))
      assertServesPlainRead(out)
      assert(RaceIngest.readExactlyOnce(spark, out).count() === 12)
    }
  }

  test("readExactlyOnce after 3 folds: no Spark job to build, one base plus the fold-point tail read") {
    withSQLConf(FoldKey -> "4") {
      val (src, out) = (tmpDir("eo-flat-src"), tmpDir("eo-flat-out"))
      writeBatches(src, (0 until 7).map(i => Seq(rec(s"s$i", "1", 1), rec(s"s$i", "2", 2))))
      runSink(src, out, tmpDir("eo-flat-cp"))
      // folds at batches 1, 3 and 5; the newest two bases stay
      assert(bases(out) === Set("3", "5"))

      val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      }
      val sc = spark.sparkContext
      def jobsToBuild(build: => org.apache.spark.sql.DataFrame): (Int, org.apache.spark.sql.DataFrame) = {
        starts.clear()
        sc.addSparkListener(listener)
        try {
          sc.setJobGroup("build", "build")
          val df = build
          // the listener bus delivers in order: once the sentinel job's
          // start arrives, every job the build ran has arrived before it
          sc.setJobGroup("sentinel", "sentinel")
          sc.parallelize(Seq(1), 1).count()
          val deadline = System.nanoTime() + 30000000000L
          while (!starts.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
          assert(starts.contains("sentinel"))
          (starts.toArray.count(_ == "build"), df)
        } finally {
          sc.clearJobGroup()
          sc.removeSparkListener(listener)
        }
      }
      // the listener sees jobs: above the threshold a plain root read
      // lists the partition directories in a Spark job
      assert(jobsToBuild(spark.read.parquet(out))._1 >= 1)
      val (jobs, eo) = jobsToBuild(RaceIngest.readExactlyOnce(spark, out))
      assert(jobs === 0)

      val files = eo.inputFiles.toSeq.map(f => new org.apache.hadoop.fs.Path(f).getParent.getName)
      assert(files.count(_ == "upto=5") === 1, files)
      assert(files.filterNot(_ == "upto=5").toSet === Set("batch_id=6"), files)
      assert(eo.count() === 14)
      assertServesPlainRead(out)
    }
  }
}
