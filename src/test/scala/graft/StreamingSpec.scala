package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.RaceIngest

/** Structured-Streaming pipeline tests (SURVEY.md §2.7, §5.4): MemoryStream
  * of JSON records → full transform → foreachBatch parquet sink, exercising
  * append mode, checkpoint resume, and the never-sink-null-position
  * invariant (T9) — all without a Kafka broker (the transform is
  * source-agnostic by design).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val msg1 =
    """{"grand_prix":"Bahrain","date":"2023-03-05T15:00:00+00:00","driver_number":"1","position":1,"laps_completed":57,"dnf":false,"gap_to_leader":null,"meeting_key":"m1","session_key":"s1"}"""
  private val msgLive =
    """{"grand_prix":"Bahrain","date":"2023-03-05T15:00:00+00:00","driver_number":"16","position":null,"laps_completed":12,"dnf":false,"gap_to_leader":null,"meeting_key":"m1","session_key":"s1"}"""
  private val msg2 =
    """{"grand_prix":"Jeddah","date":"2023-03-19T17:00:00+00:00","driver_number":"11","position":2,"laps_completed":50,"dnf":false,"gap_to_leader":"+5.1","meeting_key":"m2","session_key":"s2"}"""

  test("append sink persists scored rows, filters live rows, resumes from checkpoint") {
    implicit val ctx = spark.sqlContext
    val out = tmpDir("stream-out")
    val cp = tmpDir("stream-cp")

    val ms = MemoryStream[String]
    val raw = ms.toDF().withColumnRenamed("value", "value")

    ms.addData(msg1, msgLive)
    val q1 = RaceIngest.startParquetSink(raw, out, cp, Trigger.AvailableNow())
    q1.awaitTermination()

    val batch1 = spark.read.parquet(out)
    assert(batch1.count() === 1) // live row never reaches the sink (T9)
    assert(batch1.select("points").as[Int].head() === 25)

    // new data + restart from the same checkpoint → only new rows appended
    ms.addData(msg2)
    val q2 = RaceIngest.startParquetSink(raw, out, cp, Trigger.AvailableNow())
    q2.awaitTermination()

    val all = spark.read.parquet(out)
    assert(all.count() === 2)
    assert(all.filter(col("driver_number") === "11").select("points").as[Int].head() === 18)
    // batch ids recorded → replays identifiable (exactly-once upgrade hook)
    assert(all.columns.contains("batch_id"))
  }

  test("windowed event-time aggregation with watermark (T8 generalization)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = ms.toDF().toDF("ts", "event_type", "value")

    ms.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "click", 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "click", 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:06:00"), "view", 5.0))

    val agg = RaceIngest.windowedEventAgg(events, "ts", "5 minutes", "10 minutes")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("winagg").start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("winagg")
      .select(col("window.start").cast("string"), col("event_type"), col("n"), col("total_value"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(got === Set(
      ("2024-01-01 00:00:00", "click", 2L, 3.0),
      ("2024-01-01 00:05:00", "view", 1L, 5.0)))
  }

  test("stream-static join enriches in-stream with the drivers dim") {
    implicit val ctx = spark.sqlContext
    val drivers = Seq(("1", "Max Verstappen", "u1"))
      .toDF("driver_number", "driver_name", "headshot_url")
    val ms = MemoryStream[String]
    ms.addData(msg1)
    val q = RaceIngest.transformEnriched(ms.toDF(), drivers)
      .writeStream.outputMode("append").format("memory")
      .queryName("enriched").start()
    q.processAllAvailable()
    q.stop()
    val row = spark.table("enriched")
      .select("driver_number", "driver_name", "points")
      .as[(String, String, Int)].head()
    assert(row === (("1", "Max Verstappen", 25)))
  }

  test("mapGroupsWithState maintains running championship totals across batches") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val q = RaceIngest.startRunningTotals(ms.toDF(), "totals")

    ms.addData(msg1) // driver 1 wins GP1: 25 pts
    q.processAllAvailable()
    val after1 = spark.table("totals")
      .select("driver_number", "points", "wins", "races")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(after1 === Set(("1", 25L, 1L, 1L)))

    // GP2: driver 11 P2 (18 pts); driver 1's state must persist untouched
    ms.addData(msg2)
    q.processAllAvailable()
    q.stop()
    val latest = spark.table("totals")
      .groupBy("driver_number")
      .agg(max("points").as("points"), max("wins").as("wins"), max("races").as("races"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(latest === Set(("1", 25L, 1L, 1L), ("11", 18L, 0L, 1L)))
  }

  test("transformWithState running totals match mapGroupsWithState semantics") {
    implicit val ctx = spark.sqlContext
    // transformWithState requires the RocksDB state store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[String]
      val scored = RaceIngest.transform(ms.toDF())
        .select(col("driver_number"), col("points"))
        .as[(String, Int)]
      val q = RaceIngest.runningTotalsTws(scored).writeStream
        .outputMode("update").format("memory").queryName("totals_tws").start()

      ms.addData(msg1) // driver 1 wins GP1: 25 pts
      q.processAllAvailable()
      val after1 = spark.table("totals_tws")
        .select("driver_number", "points", "wins", "races")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(after1 === Set(("1", 25L, 1L, 1L)))

      ms.addData(msg2) // GP2: driver 11 P2; driver 1's state persists
      q.processAllAvailable()
      q.stop()
      val latest = spark.table("totals_tws")
        .groupBy("driver_number")
        .agg(max("points").as("points"), max("wins").as("wins"), max("races").as("races"))
        .as[(String, Long, Long, Long)].collect().toSet
      assert(latest === Set(("1", 25L, 1L, 1L), ("11", 18L, 0L, 1L)))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("transformWithState TTL: an idle driver's state expires and totals restart from zero") {
    // Trigger.Once rounds against one checkpoint: each round processes
    // the pending data in exactly one batch and terminates, so TTL
    // expiry is exercised BETWEEN batches — which also proves the
    // expiration timestamp is persisted in the store, not an in-memory
    // artifact of a live query. Trigger.Once (not AvailableNow, not a
    // live query + processAllAvailable) is load-bearing: in
    // ProcessingTime TimeMode the transformWithState operator always
    // answers shouldRunAnotherBatch=true (timers/TTL may fire later),
    // so quiescence-based harnesses spin empty maintenance batches
    // forever; Once caps the run at a single batch by construction.
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[String]
      val cp = tmpDir("ttl-cp")
      val out = tmpDir("ttl-out")
      def round(): Unit = {
        val scored = RaceIngest.transform(ms.toDF())
          .select(col("driver_number"), col("points"))
          .as[(String, Int)]
        val q = RaceIngest
          .runningTotalsTwsTtl(scored, java.time.Duration.ofSeconds(20))
          .toDF()
          .writeStream.outputMode("update")
          .option("checkpointLocation", cp)
          .trigger(Trigger.Once())
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.write.mode("append").parquet(out)
            ()
          }
          .start()
        q.awaitTermination()
      }: @annotation.nowarn("cat=deprecation")
      def points(): Seq[Long] = spark.read.parquet(out)
        .filter(col("driver_number") === "1").select("points")
        .as[Long].collect().toSeq.sorted

      ms.addData(msg1) // driver 1 wins GP1: 25 pts
      round()
      assert(points() === Seq(25L))

      // round 2 lands within the 20 s TTL (a Trigger.Once round costs
      // ~5 s of query startup, so the TTL must dominate two rounds —
      // the 2 s obvious choice is flaky by construction): state
      // persists, totals grow
      ms.addData(msg1)
      round()
      assert(points() === Seq(25L, 50L), "state should survive within TTL")

      // idle past the TTL: the store expires the driver's ValueState,
      // so the next event restarts at 25 — NOT 75 (a failed expiry
      // would keep accumulating)
      Thread.sleep(21000)
      ms.addData(msg1)
      round()
      assert(points() === Seq(25L, 25L, 50L),
        s"expected totals to restart at 25 after TTL expiry, got ${points()}")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("flatMapGroupsWithState emits alerts only on position changes") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Int)]
    val q = RaceIngest.positionChangeAlerts(ms.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("pos_alerts").start()

    ms.addData(("1", 3)) // first sighting: state set silently, no alert
    q.processAllAvailable()
    assert(spark.table("pos_alerts").count() === 0)

    ms.addData(("1", 1), ("2", 5)) // 1 changes 3→1; 2 is first-seen
    q.processAllAvailable()
    val a2 = spark.table("pos_alerts").as[(String, Int, Int)].collect().toSet
    assert(a2 === Set(("1", 3, 1)))

    ms.addData(("1", 1), ("2", 4)) // 1 unchanged → silent; 2 drops 5→4
    q.processAllAvailable()
    q.stop()
    val a3 = spark.table("pos_alerts").as[(String, Int, Int)].collect().toSet
    assert(a3 === Set(("1", 3, 1), ("2", 5, 4)))
  }

  test("streaming dedup: dropDuplicatesWithinWatermark collapses replays in-stream") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val q = ms.toDF().toDF("ts", "driver_number")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("driver_number")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").start()
    ms.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "44"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "44"), // dup in window
      (java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), "1"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_stream").select("driver_number")
      .as[String].collect().sorted
    assert(got.toSeq === Seq("1", "44"))
  }

  test("stream-stream watermarked join: cross-batch matches join, sub-watermark rows drop") {
    implicit val ctx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val scoreMs = MemoryStream[(java.sql.Timestamp, String, Int)]
    val profMs = MemoryStream[(java.sql.Timestamp, String, String)]
    val q = RaceIngest.joinWithProfileUpdates(
        scoreMs.toDF().toDF("score_ts", "driver_number", "points"),
        profMs.toDF().toDF("profile_ts", "profile_driver", "team"),
        watermark = "10 minutes", maxAge = "15 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("ss_join").start()

    // batch 1: same-batch match
    scoreMs.addData((ts("2024-01-01 00:01:00"), "1", 25))
    profMs.addData((ts("2024-01-01 00:00:00"), "1", "Red Bull"))
    q.processAllAvailable()

    // batch 2: scores for 99 and 77 arrive with no profile yet; both
    // sides' max event time moves to 01:10 → watermark becomes 01:00
    scoreMs.addData(
      (ts("2024-01-01 01:10:00"), "99", 18),
      (ts("2024-01-01 01:10:00"), "77", 15))
    profMs.addData((ts("2024-01-01 01:10:00"), "pad", "Pad FC"))
    q.processAllAvailable()

    // batch 3: 99's profile arrives LATE but above the watermark and in
    // the 15-minute range → must join against the buffered batch-2 score
    profMs.addData((ts("2024-01-01 01:05:00"), "99", "McLaren"))
    q.processAllAvailable()

    // batch 4: 77's profile is in range too (00:58 ∈ [00:55, 01:10]) but
    // BELOW the 01:00 watermark → dropped, never joins
    profMs.addData((ts("2024-01-01 00:58:00"), "77", "Ghost FC"))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("ss_join")
      .select("driver_number", "points", "team")
      .as[(String, Int, String)].collect().toSet
    assert(got === Set(("1", 25, "Red Bull"), ("99", 18, "McLaren")),
      s"expected the in-time matches only, got $got")
  }

  test("JDBC sink roundtrips against embedded Derby; replay appends (S2 at-least-once)") {
    implicit val ctx = spark.sqlContext
    // Derby ships in /opt/spark/jars — a real in-JVM JDBC database, so the
    // reference's write_to_postgres path (spark_ingestion.py:116–125) runs
    // end to end: stream → foreachBatch → DataFrameWriter.jdbc → read back
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val props = new java.util.Properties()

    val ms = MemoryStream[String]
    ms.addData(msg1, msgLive)
    val q = RaceIngest.startJdbcSink(ms.toDF(), url, "race_results", props,
      tmpDir("jdbc-cp1"))
    q.awaitTermination()

    val back = spark.read.jdbc(url, "race_results", props)
    assert(back.count() === 1) // T9: the null-position row never lands
    assert(back.select("points").as[Int].head() === 25)

    // replay with a fresh checkpoint: blind JDBC append duplicates — the
    // reference's semantics, documented as at-least-once (the parquet sink
    // upgrades this via per-batch partition overwrite; JDBC would need a
    // keyed MERGE, which Derby-via-DataFrameWriter doesn't express)
    val ms2 = MemoryStream[String]
    ms2.addData(msg1)
    val q2 = RaceIngest.startJdbcSink(ms2.toDF(), url, "race_results", props,
      tmpDir("jdbc-cp2"))
    q2.awaitTermination()
    assert(spark.read.jdbc(url, "race_results", props).count() === 2)
  }

  test("stream-stream join state survives a checkpoint restart") {
    implicit val ctx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val cp = tmpDir("ssj-cp")
    val out = tmpDir("ssj-out")
    val scoreMs = MemoryStream[(java.sql.Timestamp, String, Int)]
    val profMs = MemoryStream[(java.sql.Timestamp, String, String)]
    def run(): Unit = {
      val q = RaceIngest.joinWithProfileUpdates(
          scoreMs.toDF().toDF("score_ts", "driver_number", "points"),
          profMs.toDF().toDF("profile_ts", "profile_driver", "team"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
          ()
        }
        .start()
      q.awaitTermination()
    }
    // run 1: a score with no matching profile yet — it must enter join
    // state; nothing reaches the sink
    scoreMs.addData((ts("2024-01-01 00:05:00"), "77", 15))
    profMs.addData((ts("2024-01-01 00:00:00"), "pad", "Pad FC"))
    run()

    // run 2 (fresh query, SAME checkpoint): the in-range profile arrives.
    // The match can only be produced if the buffered batch-1 score was
    // recovered from the checkpointed state store.
    profMs.addData((ts("2024-01-01 00:04:00"), "77", "Williams"))
    run()
    val got = spark.read.parquet(out)
      .select("driver_number", "points", "team")
      .as[(String, Int, String)].collect().toSet
    assert(got === Set(("77", 15, "Williams")))
  }

  test("stream-stream LEFT OUTER join: null-padded rows emit once the watermark is final") {
    implicit val ctx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val scoreMs = MemoryStream[(java.sql.Timestamp, String, Int)]
    val profMs = MemoryStream[(java.sql.Timestamp, String, String)]
    val q = RaceIngest.joinWithProfileUpdatesOuter(
        scoreMs.toDF().toDF("score_ts", "driver_number", "points"),
        profMs.toDF().toDF("profile_ts", "profile_driver", "team"),
        watermark = "10 minutes", maxAge = "15 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("ss_outer").start()

    // batch 1: "1" matches; "77" has no profile — its null row must NOT
    // emit yet (a profile could still arrive within the range)
    scoreMs.addData(
      (ts("2024-01-01 00:01:00"), "1", 25),
      (ts("2024-01-01 00:02:00"), "77", 15))
    profMs.addData((ts("2024-01-01 00:00:30"), "1", "Red Bull"))
    q.processAllAvailable()
    val early = spark.table("ss_outer")
      .filter(col("driver_number") === "77").count()
    assert(early === 0L, "outer null must wait for the watermark")

    // batches 2-3: watermark moves far past 77's range bound → the
    // engine can prove no match will come and emits the null-padded row
    scoreMs.addData((ts("2024-01-01 03:00:00"), "pad", 1))
    profMs.addData((ts("2024-01-01 03:00:00"), "padp", "Pad FC"))
    q.processAllAvailable()
    scoreMs.addData((ts("2024-01-01 03:00:01"), "pad2", 1))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("ss_outer")
      .select("driver_number", "points", "team")
      .as[(String, Int, Option[String])].collect().toSet
    assert(got.contains(("1", 25, Some("Red Bull"))))
    assert(got.contains(("77", 15, None)), s"null-padded row missing: $got")
  }

  test("streaming session_window: session emits after the watermark passes its end") {
    implicit val ctx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ms = MemoryStream[(java.sql.Timestamp, Long)]
    val q = RaceIngest.sessionizedEventAgg(
        ms.toDF().toDF("ts", "user_id"), "ts", "user_id",
        gap = "5 minutes", watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_stream").start()

    // one session for user 1 (00:00, 00:02 — merged by the 5-min gap)
    ms.addData((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:02:00"), 1L))
    q.processAllAvailable()
    assert(spark.table("sess_stream").count() === 0L) // still open

    // far-future event → watermark 00:50 > session end 00:07 → emit
    ms.addData((ts("2024-01-01 01:00:00"), 2L))
    q.processAllAvailable()
    ms.addData((ts("2024-01-01 01:00:01"), 2L))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sess_stream")
      .select(col("user_id"), col("w.start").cast("string"),
        col("w.end").cast("string"), col("n"))
      .as[(Long, String, String, Long)].collect().toSet
    assert(got === Set(
      (1L, "2024-01-01 00:00:00", "2024-01-01 00:07:00", 2L)))
  }

  test("session_window: an event at exactly the gap boundary MERGES into the session") {
    // pins the boundary semantics the qs03 oracle mirrors with its
    // strictly-> gap comparison: Spark merges when t <= last + gap
    // (empirically verified here — a new session needs t > last + gap)
    val df = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
      (java.sql.Timestamp.valueOf("2024-01-01 00:29:59"), 1L), // inside gap
      (java.sql.Timestamp.valueOf("2024-01-01 00:59:59"), 1L), // == last + 30 min
      (java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 1L), // > gap → new
    ).toDF("ts", "user_id")
    val got = df
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("string"), col("n"))
      .as[(String, Long)].collect().toSet
    assert(got === Set(
      ("2024-01-01 00:00:00", 3L),
      ("2024-01-01 02:00:00", 1L)))
  }

  test("kafka record shape: key = driver_number, value = JSON (S4/S6)") {
    val df = Seq(("44", "Bahrain", 15)).toDF("driver_number", "grand_prix", "points")
    val rec = RaceIngest.toKafkaRecords(df).as[(String, String)].head()
    assert(rec._1 === "44")
    assert(rec._2 === """{"driver_number":"44","grand_prix":"Bahrain","points":15}""")
  }

  test("streaming incremental dedup: cross-batch keepers exactly-once across restart and replay") {
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("corpus-out")
    val cp = tmpDir("corpus-cp")
    val ms = MemoryStream[(Long, String)]
    def run(checkpoint: String = cp): Unit = {
      val q = graft.streaming.CorpusIngest.startDedupedCorpusSink(
        ms.toDF().toDF("doc_id", "text"), corpus, checkpoint, minTokens = 3)
      q.awaitTermination()
    }
    def corpusState(): Set[(Long, Long)] =
      spark.read.parquet(corpus).select("doc_id", "batch_id")
        .as[(Long, Long)].collect().toSet

    val docA = "alpha bravo charlie delta"
    val docB = "echo foxtrot golf hotel"
    val docD = "india juliet kilo lima"
    val docE = "mike november oscar papa"

    // batch 0: within-batch dup (11 dups 10 → keep smallest id) + a row
    // under the token gate
    ms.addData((10L, docB), (11L, docB), (12L, docA), (13L, "too short"))
    run()
    assert(corpusState() === Set((10L, 0L), (12L, 0L)))

    // batch 1 (fresh query, SAME checkpoint — a restart): cross-batch
    // dup of A must be dropped via the corpus's stored hash column
    ms.addData((20L, docD), (21L, docA))
    run()
    assert(corpusState() === Set((10L, 0L), (12L, 0L), (20L, 1L)))

    // batch 2 (restart again): dups of both earlier batches
    ms.addData((30L, docE), (31L, docD), (32L, docB))
    run()
    val afterThree = Set((10L, 0L), (12L, 0L), (20L, 1L), (30L, 2L))
    assert(corpusState() === afterThree)

    // replay: batch 0's data re-processed under a FRESH checkpoint
    // (sink committed, checkpoint lost — the reference's duplicate
    // scenario). The fresh epoch bootstraps the seen-set from the
    // corpus — which already holds these keepers — so the batch emits
    // NOTHING and no partition is touched: corpus unchanged, no
    // duplicate and no lost keepers.
    val ms2 = MemoryStream[(Long, String)]
    ms2.addData((10L, docB), (11L, docB), (12L, docA), (13L, "too short"))
    val q2 = graft.streaming.CorpusIngest.startDedupedCorpusSink(
      ms2.toDF().toDF("doc_id", "text"), corpus, tmpDir("corpus-cp2"), minTokens = 3)
    q2.awaitTermination()
    assert(corpusState() === afterThree)
  }

  test("streaming NEAR-dup ingest: fuzzy cross-batch dups dropped across restart and replay") {
    // the fuzzy sibling of the exact-dedup capstone: batch-1 docs that
    // are NEAR (not exact) copies of batch-0 keepers must be dropped via
    // the corpus's STORED band columns, across a checkpoint restart
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("nd-corpus")
    val cp = tmpDir("nd-cp")
    def corpusState(): Set[(Long, Long)] =
      spark.read.parquet(corpus).select("doc_id", "batch_id")
        .as[(Long, Long)].collect().toSet

    val tA = (0 until 60).map(i => s"alpha$i").mkString(" ")
    val tB = (0 until 60).map(i => s"beta$i").mkString(" ")
    val tC = (0 until 60).map(i => s"gamma$i").mkString(" ")

    val ms = MemoryStream[(Long, String)]
    def run(checkpoint: String, stream: MemoryStream[(Long, String)]): Unit = {
      val q = graft.streaming.CorpusIngest.startNearDupCorpusSink(
        stream.toDF().toDF("doc_id", "text"), corpus, checkpoint, minTokens = 3)
      q.awaitTermination()
    }

    // batch 0: two keepers + a within-batch near-dup of A (appended word)
    ms.addData((10L, tA), (11L, tB), (12L, tA + " extra"))
    run(cp, ms)
    assert(corpusState() === Set((10L, 0L), (11L, 0L)))

    // batch 1 (fresh query, SAME checkpoint — a restart): a near-dup of A
    // that is NOT an exact copy (different words appended) must still be
    // dropped, via band probe only; fresh doc C is kept
    ms.addData((20L, tA + " tail word"), (21L, tC))
    run(cp, ms)
    assert(corpusState() === Set((10L, 0L), (11L, 0L), (21L, 1L)))

    // replay: batch 0's data under a FRESH checkpoint (sink committed,
    // checkpoint lost). The fresh epoch's probe sees ALL existing
    // partitions (its own (epoch,0) doesn't exist yet), so every
    // replayed doc band-matches its original keeper and the batch
    // writes nothing — corpus unchanged.
    val ms2 = MemoryStream[(Long, String)]
    ms2.addData((10L, tA), (11L, tB), (12L, tA + " extra"))
    run(tmpDir("nd-cp2"), ms2)
    assert(corpusState() === Set((10L, 0L), (11L, 0L), (21L, 1L)))
  }

  test("corpus sinks: epochs isolate checkpoints — adoption AND old-checkpoint resume never clobber") {
    // A new query adopting an existing corpus restarts foreachBatch ids
    // at 0 — without per-checkpoint epochs its first batch dynamically
    // overwrote the pre-existing partition, silently deleting keepers;
    // and a single-level base+batchId scheme STILL collided when an old
    // checkpoint resumed with batches beyond its original range. The
    // (epoch, batch_id) layout gives each checkpoint its own partition
    // subtree.
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("adopt-corpus")
    def state(): Set[(Long, Long, Long)] =
      spark.read.parquet(corpus)
        .select(col("doc_id"), col("epoch").cast("long"), col("batch_id").cast("long"))
        .as[(Long, Long, Long)].collect().toSet

    // first query, checkpoint cp1 (epoch 0): two batches
    val ms1 = MemoryStream[(Long, String)]
    val cp1 = tmpDir("adopt-cp1")
    def run(ms: MemoryStream[(Long, String)], cp: String): Unit = {
      val q = graft.streaming.CorpusIngest.startDedupedCorpusSink(
        ms.toDF().toDF("doc_id", "text"), corpus, cp, minTokens = 1)
      q.awaitTermination()
    }
    ms1.addData((1L, "doc alpha content"), (2L, "doc beta content"))
    run(ms1, cp1)
    ms1.addData((3L, "doc gamma content"))
    run(ms1, cp1)
    assert(state() === Set((1L, 0L, 0L), (2L, 0L, 0L), (3L, 0L, 1L)))

    // second query, FRESH checkpoint (epoch 1): a novel doc plus a dup
    // of doc 1 — the dup drops via bootstrap; the novel doc lands under
    // epoch 1, and epoch 0's partitions stay byte-identical
    val ms2 = MemoryStream[(Long, String)]
    ms2.addData((10L, "doc delta content"), (11L, "doc alpha content"))
    run(ms2, tmpDir("adopt-cp2"))
    assert(state() === Set((1L, 0L, 0L), (2L, 0L, 0L), (3L, 0L, 1L), (10L, 1L, 0L)))

    // the residual single-level-scheme hole: resume the OLD checkpoint
    // cp1 AFTER epoch 1 exists. Its next batch id (2) must write under
    // ITS epoch (0,2) — with base+batchId it would have overwritten the
    // adopting query's partition
    ms1.addData((20L, "doc epsilon content"))
    run(ms1, cp1)
    assert(state() === Set((1L, 0L, 0L), (2L, 0L, 0L), (3L, 0L, 1L),
      (10L, 1L, 0L), (20L, 0L, 2L)))

    // the near-dup sink: same epoch isolation on adoption
    val ndCorpus = tmpDir("adopt-nd-corpus")
    val tA = (0 until 60).map(i => s"adopt$i").mkString(" ")
    val ms3 = MemoryStream[(Long, String)]
    def runNd(ms: MemoryStream[(Long, String)], cp: String): Unit = {
      val q = graft.streaming.CorpusIngest.startNearDupCorpusSink(
        ms.toDF().toDF("doc_id", "text"), ndCorpus, cp, minTokens = 1)
      q.awaitTermination()
    }
    ms3.addData((1L, tA))
    runNd(ms3, tmpDir("adopt-nd-cp1"))
    val ms4 = MemoryStream[(Long, String)]
    ms4.addData((2L, tA + " extra"), (3L, "totally fresh other words"))
    runNd(ms4, tmpDir("adopt-nd-cp2"))
    val nd = spark.read.parquet(ndCorpus)
      .select(col("doc_id"), col("epoch").cast("long"), col("batch_id").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(nd === Set((1L, 0L, 0L), (3L, 1L, 0L))) // near-dup dropped; fresh doc in its own epoch
  }

  test("near-dup sink probe is bucket-pruned: probe bytes do NOT grow with corpus partitions in other buckets") {
    // The round-7 formulation re-read EVERY epoch's full band columns per
    // batch — O(batches × corpus) cumulative. The bucketed _graft_bands
    // index prunes the probe to the batch's own band-hash prefixes; proof:
    // probe a near-dup, grow the corpus with docs whose band prefixes are
    // DISJOINT from the probe's buckets, probe the same text again — the
    // second probe's executor file-input bytes must be EXACTLY the first's
    // (its buckets are byte-identical; the growth all landed elsewhere).
    implicit val ctx = spark.sqlContext
    import graft.functions.Dedup
    val corpus = tmpDir("bkt-corpus")
    val cp = tmpDir("bkt-cp")

    def mkDoc(stem: String): String = (0 until 60).map(i => s"$stem$i").mkString(" ")
    val tA = mkDoc("alpha")
    val probeText = tA + " tail word" // near-dup of tA (shares ≥1 LSH band)

    // one job: band-hash prefixes of the probe text and of filler candidates
    val cands = ((-1L, probeText) +: (0 until 200).map(i => (i.toLong, mkDoc(s"fill${i}x")))).toDF("doc_id", "text")
    val pfxOf = Dedup.withLshBands(Dedup.withMinHash(cands, "text", 16, 3), 16, 4)
      .select(col("doc_id"), array((0 until 4).map(b => substring(col(s"band$b"), 1, 1)): _*).as("p"))
      .as[(Long, Seq[String])].collect().toMap.view.mapValues(_.toSet).toMap
    val probePfxs = pfxOf(-1L)
    val fillers = (0 until 200).filter(i => pfxOf(i.toLong).intersect(probePfxs).isEmpty).take(6)
    assert(fillers.size === 6, s"test fixture: need 6 prefix-disjoint fillers, found ${fillers.size}")

    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val events = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        events.incrementAndGet()
        if (e.taskMetrics != null) bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
    }
    def drained(): Unit = {
      var prev = -1L
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val now = events.get()
        if (now == prev) stable += 1 else { stable = 0; prev = now }
      }
    }
    val ms = MemoryStream[(Long, String)]
    def run(): Unit = {
      val q = graft.streaming.CorpusIngest.startNearDupCorpusSink(
        ms.toDF().toDF("doc_id", "text"), corpus, cp, minTokens = 1)
      q.awaitTermination()
    }
    def measuredRun(): Long = {
      bytesRead.set(0)
      spark.sparkContext.addSparkListener(listener)
      try { run(); drained() } finally spark.sparkContext.removeSparkListener(listener)
      bytesRead.get()
    }

    ms.addData((10L, tA)) // batch 0: the keeper whose buckets the probe hits
    run()
    ms.addData((20L, probeText)) // batch 1: near-dup → dropped via index probe
    val b1 = measuredRun()
    assert(b1 > 0L, "probe read nothing — the near-dup was not checked against the index")

    // grow the corpus: 3 batches of prefix-disjoint fillers (all kept)
    fillers.grouped(2).foreach { pair =>
      pair.foreach(i => ms.addData((100L + i, mkDoc(s"fill${i}x"))))
      run()
    }
    ms.addData((90L, probeText)) // same probe text, new id → same buckets
    val b2 = measuredRun()
    assert(b2 === b1,
      s"probe bytes grew with corpus partitions in OTHER buckets ($b1 → $b2) — bucket pruning is broken")

    val docs = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(docs === (Set(10L) ++ fillers.map(i => 100L + i)), s"got $docs")
    // and the growth really landed outside the probe's buckets
    val idx = new java.io.File(corpus, "_graft_bands")
    val otherBuckets = idx.listFiles().filter(f =>
      f.getName.startsWith("pfx=") && !probePfxs.contains(f.getName.stripPrefix("pfx=")))
    assert(otherBuckets.nonEmpty, "fixture degenerate: fillers created no non-probe buckets")
  }

  test("containment sink: cross-batch quotes drop via stored fingerprints; short/unrelated docs admitted; within-batch larger id drops") {
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("winnow-corpus")
    val cp = tmpDir("winnow-cp")
    val ms = MemoryStream[(Long, String)]
    def run(): Unit =
      graft.streaming.CorpusIngest.startContainmentCorpusSink(
        ms.toDF().toDF("doc_id", "text"), corpus, cp, minTokens = 1)
        .awaitTermination()

    val baseTokens = (0 until 40).map(i => s"q$i")
    val base = baseTokens.mkString(" ")
    ms.addData((1L, base), (2L, (0 until 40).map(i => s"u$i").mkString(" ")))
    run()
    // batch 1: a 20-token verbatim quote of the STORED doc embedded in
    // fresh context (the winnowing guarantee fires on the shared run
    // regardless of position/context) must drop; a sub-window-length
    // doc yields no fingerprints and is admitted; a fresh doc is
    // admitted; a fresh within-batch quote pair keeps the smaller id
    val zRun = (0 until 20).map(i => s"z$i").mkString(" ")
    ms.addData(
      (10L, "intro words here " + baseTokens.slice(5, 25).mkString(" ") + " outro tail"),
      (11L, "too short doc"),
      (12L, (0 until 40).map(i => s"v$i").mkString(" ")),
      (14L, zRun + " alpha ending words"),
      (15L, "leading context " + zRun + " trailing thing"))
    run()
    val kept = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 11L, 12L, 14L), s"got $kept")
    // replay from an intact checkpoint: re-running with no new data
    // leaves the corpus byte-identical (no self-matching)
    run()
    val again = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(again === kept)
    // the index holds exactly the keepers' fingerprints (short doc 11
    // legitimately has none)
    val idxDocs = spark.read.parquet(
        new java.io.File(corpus, "_graft_winnow").toString)
      .select("doc_id").as[Long].collect().toSet
    assert(idxDocs === Set(1L, 2L, 12L, 14L), s"got $idxDocs")
  }

  test("containment sink probe is bucket-pruned: probe bytes do NOT grow with corpus fingerprints in other buckets") {
    // Same claim as the band sink's pruning proof, measured on the
    // probe scan in ISOLATION (a batch's only file-reading stage —
    // whole-batch input bytes also count cache-block reads of the
    // checkpointed frames, which are not file I/O): probe a quote's
    // buckets, grow the corpus with docs whose fingerprint prefixes are
    // DISJOINT from those buckets, probe again — bytes must be EXACTLY
    // equal. prefixLen=2 (256 buckets) so a ~30-token doc's ~10
    // fingerprints leave enough untouched buckets to grow into.
    implicit val ctx = spark.sqlContext
    import graft.functions.Dedup
    val corpus = tmpDir("winnow-bkt-corpus")
    val cp = tmpDir("winnow-bkt-cp")

    def mkDoc(stem: String): String = (0 until 30).map(i => s"$stem$i").mkString(" ")
    val tA = mkDoc("alpha")
    val probeText = "quoting now " + tA + " end quote"

    val cands = ((-1L, probeText) +: (0 until 300).map(i => (i.toLong, mkDoc(s"fill${i}x"))))
      .toDF("doc_id", "text")
    val pfxOf = Dedup.winnowFingerprints(cands, "doc_id", "text")
      .select(col("doc_id"), substring(col("fp_hash"), 1, 2).as("p"))
      .as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val probePfxs = pfxOf(-1L)
    val fillers = (0 until 300)
      .filter(i => pfxOf(i.toLong).intersect(probePfxs).isEmpty).take(6)
    assert(fillers.size === 6, s"test fixture: need 6 prefix-disjoint fillers, found ${fillers.size}")

    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val events = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        events.incrementAndGet()
        if (e.taskMetrics != null) bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
    }
    def drained(): Unit = {
      var prev = -1L
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val now = events.get()
        if (now == prev) stable += 1 else { stable = 0; prev = now }
      }
    }
    val ms = MemoryStream[(Long, String)]
    def run(): Unit =
      graft.streaming.CorpusIngest.startContainmentCorpusSink(
        ms.toDF().toDF("doc_id", "text"), corpus, cp, minTokens = 1,
        prefixLen = 2)
        .awaitTermination()
    // the probe scan a batch holding probeText issues, in isolation
    // ((999, 999) excludes no real partition)
    def measuredProbe(): Long = {
      bytesRead.set(0)
      spark.sparkContext.addSparkListener(listener)
      try {
        graft.streaming.CorpusIngest.probeWinnow(
          spark, corpus, 999L, 999L, probePfxs.toSeq).count()
        drained()
      } finally spark.sparkContext.removeSparkListener(listener)
      bytesRead.get()
    }

    ms.addData((10L, tA))
    run()
    ms.addData((20L, probeText)) // quote → dropped via index probe
    run()
    val b1 = measuredProbe()
    assert(b1 > 0L, "probe read nothing — the quote's buckets are empty")
    fillers.grouped(2).foreach { pair =>
      pair.foreach(i => ms.addData((100L + i, mkDoc(s"fill${i}x"))))
      run()
    }
    ms.addData((90L, probeText)) // same text, new id → same buckets
    run()
    val b2 = measuredProbe()
    assert(b2 === b1,
      s"probe bytes grew with corpus fingerprints in OTHER buckets ($b1 → $b2) — bucket pruning is broken")
    // both quote arrivals were dropped; the growth all landed elsewhere
    val docs = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(docs === (Set(10L) ++ fillers.map(i => 100L + i)), s"got $docs")
    val idx = new java.io.File(corpus, "_graft_winnow")
    val otherBuckets = idx.listFiles().filter(f =>
      f.getName.startsWith("pfx=") && !probePfxs.contains(f.getName.stripPrefix("pfx=")))
    assert(otherBuckets.nonEmpty, "fixture degenerate: fillers created no non-probe buckets")
  }

  test("compactContainmentCorpus: concurrent-epoch quotes removed, winnow index kept in step, idempotent") {
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("winnow-compact")
    val run20 = (0 until 20).map(i => s"c$i").mkString(" ")
    // manufacture the concurrent-writer end state: epoch 0 holds the
    // original, epoch 1 holds a quoting doc compaction must remove
    def part(rows: Seq[(Long, String)], epoch: Long, batch: Long): Unit =
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"),
          lit(epoch).as("epoch"), lit(batch).as("batch_id"))
        .write.mode("append").partitionBy("epoch", "batch_id").parquet(corpus)
    part(Seq((1L, run20 + " original framing"), (2L, (0 until 20).map(i => s"d$i").mkString(" "))), 0L, 0L)
    part(Seq((9L, "quoted " + run20 + " elsewhere")), 1L, 0L)
    // adopt: a fresh sink start builds the index from stored text
    val ms = MemoryStream[(Long, String)]
    graft.streaming.CorpusIngest.startContainmentCorpusSink(
      ms.toDF().toDF("doc_id", "text"), corpus, tmpDir("winnow-compact-cp"),
      minTokens = 1).awaitTermination()
    val removed = graft.streaming.CorpusIngest.compactContainmentCorpus(spark, corpus)
    assert(removed === 1L, s"expected the quoting doc removed, got $removed")
    val kept = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L))
    val idxDocs = spark.read.parquet(
        new java.io.File(corpus, "_graft_winnow").toString)
      .select("doc_id").as[Long].collect().toSet
    assert(idxDocs === Set(1L, 2L), s"index out of step: $idxDocs")
    assert(graft.streaming.CorpusIngest.compactContainmentCorpus(spark, corpus) === 0L)
  }

  test("concurrent fresh checkpoints claim DISTINCT epochs before either writes data") {
    // Round 7's epoch was derived from the corpus max alone, so two fresh
    // queries starting against the same (still-empty) corpus both pinned
    // epoch 0 and could dynamically overwrite each other's partitions. The
    // claim files under _graft_epochs arbitrate via atomic create-exclusive:
    // start BOTH queries before feeding either (neither has corpus data to
    // derive from — the exact race), then feed and assert distinct epochs.
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("claim-corpus")
    val msA = MemoryStream[(Long, String)]
    val msB = MemoryStream[(Long, String)]
    val cpA = tmpDir("claim-cpA")
    val cpB = tmpDir("claim-cpB")
    def start(ms: MemoryStream[(Long, String)], cp: String) =
      graft.streaming.CorpusIngest.startDedupedCorpusSink(
        ms.toDF().toDF("doc_id", "text"), corpus, cp, minTokens = 1)

    // both queries pin their epoch at start — no data written yet
    start(msA, cpA).awaitTermination()
    start(msB, cpB).awaitTermination()
    val claims = new java.io.File(corpus, "_graft_epochs").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSet
    assert(claims === Set("epoch-0", "epoch-1"), s"got $claims")

    msA.addData((1L, "doc from writer a"))
    start(msA, cpA).awaitTermination()
    msB.addData((2L, "doc from writer b"))
    start(msB, cpB).awaitTermination()
    val state = spark.read.parquet(corpus)
      .select(col("doc_id"), col("epoch").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(state.map(_._1) === Set(1L, 2L))
    assert(state.map(_._2).size === 2, s"writers shared an epoch: $state")
  }

  test("corpus sinks fail LOUDLY on a mismatched-schema corpus instead of silently disabling dedup") {
    // The round-7 bootstrap/probe caught ALL AnalysisExceptions as "no
    // corpus yet" — pointing the exact sink at a near-dup corpus (no
    // content_hash) or vice versa silently yielded an empty seen-set
    // every batch. Existence is now a FileSystem check; column-resolution
    // errors propagate.
    implicit val ctx = spark.sqlContext
    val tA = (0 until 60).map(i => s"mix$i").mkString(" ")

    // a NEAR-dup corpus (band columns, no content_hash)…
    val ndCorpus = tmpDir("mix-nd-corpus")
    val ms1 = MemoryStream[(Long, String)]
    ms1.addData((1L, tA))
    graft.streaming.CorpusIngest.startNearDupCorpusSink(
      ms1.toDF().toDF("doc_id", "text"), ndCorpus, tmpDir("mix-nd-cp"),
      minTokens = 1).awaitTermination()
    // …refused by the EXACT sink (unresolved content_hash, at start)
    val ms2 = MemoryStream[(Long, String)]
    intercept[org.apache.spark.sql.AnalysisException] {
      graft.streaming.CorpusIngest.startDedupedCorpusSink(
        ms2.toDF().toDF("doc_id", "text"), ndCorpus, tmpDir("mix-ex-cp"))
    }

    // an EXACT corpus (content_hash, no band columns)…
    val exCorpus = tmpDir("mix-ex-corpus")
    val ms3 = MemoryStream[(Long, String)]
    ms3.addData((1L, tA))
    graft.streaming.CorpusIngest.startDedupedCorpusSink(
      ms3.toDF().toDF("doc_id", "text"), exCorpus, tmpDir("mix-ex-cp2"),
      minTokens = 1).awaitTermination()
    // …refused by the NEAR-dup sink: since the round-14 canon heal,
    // adoption pre-checks the stored band columns and refuses a
    // band-less corpus with an actionable message (previously this fell
    // through to the backfill's unresolved-band0 AnalysisException)
    val ms4 = MemoryStream[(Long, String)]
    val mixErr = intercept[IllegalArgumentException] {
      graft.streaming.CorpusIngest.startNearDupCorpusSink(
        ms4.toDF().toDF("doc_id", "text"), exCorpus, tmpDir("mix-nd-cp2"))
    }
    assert(mixErr.getMessage.contains("band0") &&
      mixErr.getMessage.contains("not a banded near-dup corpus"),
      s"refusal must name the missing columns: ${mixErr.getMessage}")

    // and a parameter-mismatched band index is refused, not silently probed
    val ms5 = MemoryStream[(Long, String)]
    val err = intercept[IllegalArgumentException] {
      graft.streaming.CorpusIngest.startNearDupCorpusSink(
        ms5.toDF().toDF("doc_id", "text"), ndCorpus, tmpDir("mix-nd-cp3"),
        bands = 2)
    }
    assert(err.getMessage.contains("band index"))

    // a band index built under an OLDER text canon (pre-NFC — its meta
    // carries no canon tag) is refused the same way, not silently
    // probed: stored band hashes of decomposed-Unicode text differ
    // under the old canon, so probing them quietly re-admits near-dups
    val metaFile = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(ndCorpus, "_graft_bands"), "_graft_meta")
    val fs = metaFile.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldMeta = "k=16 bands=4 shingleN=3 prefixLen=1"  // round-11 layout
    val out = fs.create(metaFile, true)
    try out.write(oldMeta.getBytes("UTF-8")) finally out.close()
    val ms6 = MemoryStream[(Long, String)]
    val canonErr = intercept[IllegalArgumentException] {
      graft.streaming.CorpusIngest.startNearDupCorpusSink(
        ms6.toDF().toDF("doc_id", "text"), ndCorpus, tmpDir("mix-nd-cp4"))
    }
    assert(canonErr.getMessage.contains("canon="),
      s"pre-canon index must be refused with the canon tag visible: ${canonErr.getMessage}")
  }

  test("corpus sinks: streaming contamination gate — benchmark-overlapping docs never reach the corpus") {
    // qd38's contamination report is batch-only (it tells you AFTER an
    // eval row leaked); the sinks' optional benchmark probe drops
    // contaminated docs per batch, before they land. Plant docs embedding
    // a benchmark 8-gram across several batches of BOTH sinks; assert
    // they never appear, clean docs are untouched, and a lost-checkpoint
    // replay stays byte-identical.
    implicit val ctx = spark.sqlContext
    val evalText = "which river is the longest river on the african continent answer the nile"
    val bench = Seq(Tuple1(evalText)).toDF("text")
    def contaminated(stem: String): String =
      (0 until 30).map(i => s"$stem$i").mkString(" ") + " " + evalText
    def clean(stem: String): String = (0 until 60).map(i => s"$stem$i").mkString(" ")

    // exact sink
    val corpus = tmpDir("contam-corpus")
    val cp = tmpDir("contam-cp")
    val ms = MemoryStream[(Long, String)]
    def run(checkpoint: String, stream: MemoryStream[(Long, String)]): Unit =
      graft.streaming.CorpusIngest.startDedupedCorpusSink(
        stream.toDF().toDF("doc_id", "text"), corpus, checkpoint,
        minTokens = 3, benchmark = Some(bench)).awaitTermination()
    def state(): Set[Long] =
      spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet

    ms.addData((10L, clean("ok")), (11L, contaminated("bad")))
    run(cp, ms)
    assert(state() === Set(10L), "batch-0 contaminated doc leaked into the corpus")
    ms.addData((20L, contaminated("worse")), (21L, clean("fine")))
    run(cp, ms) // restart, same checkpoint
    assert(state() === Set(10L, 21L), "batch-1 contaminated doc leaked")

    // lost-checkpoint replay of batch 0: corpus must stay byte-identical
    val ms2 = MemoryStream[(Long, String)]
    ms2.addData((10L, clean("ok")), (11L, contaminated("bad")))
    run(tmpDir("contam-cp2"), ms2)
    assert(state() === Set(10L, 21L), "replay changed the corpus")

    // near-dup sink: same gate in front of the band probe
    val ndCorpus = tmpDir("contam-nd-corpus")
    val ms3 = MemoryStream[(Long, String)]
    ms3.addData((1L, clean("prose")), (2L, contaminated("leaky")))
    graft.streaming.CorpusIngest.startNearDupCorpusSink(
      ms3.toDF().toDF("doc_id", "text"), ndCorpus, tmpDir("contam-nd-cp"),
      minTokens = 3, benchmark = Some(bench)).awaitTermination()
    val nd = spark.read.parquet(ndCorpus).select("doc_id").as[Long].collect().toSet
    assert(nd === Set(1L), "near-dup sink let a contaminated doc through")
  }

  test("containment sink's benchmark gate matches the qd22 decontamination operator's drop set") {
    // the exact/near-dup sinks' gates are cross-checked above; this pins
    // the CONTAINMENT sink's gate against the oracle-checked batch
    // operator (TextAnalysis.decontaminate — the qd22 family): the
    // sink's per-batch drop set must be exactly the operator's
    // contaminated set on the same fixture. Stems are pairwise-disjoint
    // so the containment probe itself drops nothing — every non-land is
    // the gate's.
    implicit val ctx = spark.sqlContext
    import graft.functions.TextAnalysis
    val evalText = "which river is the longest river on the african continent answer the nile"
    val bench = Seq(Tuple1(evalText)).toDF("text")
    def clean(stem: String): String = (0 until 40).map(i => s"$stem$i").mkString(" ")
    val docs = Seq(
      1L -> clean("alpha"),
      2L -> (clean("beta") + " " + evalText),  // leak embedded mid-doc
      3L -> evalText,                          // verbatim eval row
      // 7 shared tokens = UNDER the 8-gram threshold: must land
      4L -> (clean("gamma") + " " + evalText.split(" ").take(7).mkString(" ")),
      5L -> clean("delta"),
      6L -> (evalText + " " + clean("eps")))   // leak at doc start
    val corpus = tmpDir("cgate-corpus")
    val ms = MemoryStream[(Long, String)]
    ms.addData(docs: _*)
    graft.streaming.CorpusIngest.startContainmentCorpusSink(
      ms.toDF().toDF("doc_id", "text"), corpus, tmpDir("cgate-cp"),
      benchmark = Some(bench)).awaitTermination()
    val landed = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    val drops = TextAnalysis.decontaminate(
        docs.toDF("doc_id", "text"), "doc_id", "text", bench, "text", n = 8)
      .filter(col("contaminated")).select("doc_id").as[Long].collect().toSet
    assert(drops === Set(2L, 3L, 6L),
      "fixture must plant both leak shapes and a sub-threshold miss")
    assert(landed === docs.map(_._1).toSet -- drops,
      "containment sink's gate drop set diverges from the qd22 batch operator")
  }

  test("exact sink refuses an EXPLICITLY-set non-RocksDB state store provider (defaults flip silently)") {
    // conf.getOption surfaces built-in defaults, so it cannot tell "user
    // chose HDFS" from "engine default"; conf.getAll lists only
    // explicitly-set entries. An explicit choice — even the HDFS default's
    // own class name — must refuse, not silently flip (the user's other
    // queries may carry HDFS-format state checkpoints).
    implicit val ctx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    assert(!spark.conf.getAll.contains(key), "fixture: provider unexpectedly set")
    spark.conf.set(key, hdfs)
    try {
      val ms = MemoryStream[(Long, String)]
      val err = intercept[IllegalStateException] {
        graft.streaming.CorpusIngest.startDedupedCorpusSink(
          ms.toDF().toDF("doc_id", "text"),
          tmpDir("prov-corpus"), tmpDir("prov-cp"))
      }
      assert(err.getMessage.contains("explicitly"))
    } finally spark.conf.unset(key)
  }

  test("corpus sinks refuse non-integral doc_id loudly") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, String)]
    val err = intercept[IllegalArgumentException] {
      graft.streaming.CorpusIngest.startDedupedCorpusSink(
        ms.toDF().toDF("doc_id", "text"),
        tmpDir("strid-corpus"), tmpDir("strid-cp"))
    }
    assert(err.getMessage.contains("integral"))
  }

  test("curation sink rejects the reserved sentinel doc_id (Long.MinValue) loudly, not silently") {
    // ADVICE r15: the one-join probe's stored-corpus candidates carry a
    // Long.MinValue sentinel id, and the `__cand_id < doc_id` predicate
    // admits them only because the sentinel sorts below every real id —
    // a BATCH doc with doc_id == Long.MinValue would silently skip its
    // vs-corpus comparisons (the old two-join shape compared it). The
    // sink boundary must fail the batch loudly instead.
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("sentinel-corpus")
    val cents = curCents.toDF("cell_id", "centroid")
    val ms = MemoryStream[(Long, String, Seq[Double])]
    ms.addData((Long.MinValue, curText("alpha"), Seq(1.0, 0.0, 0.0, 0.0)))
    val err = intercept[Exception] {
      graft.streaming.CorpusIngest.startCurationSink(
        ms.toDF().toDF("doc_id", "text", "embedding"), corpus,
        tmpDir("sentinel-cp"), cents).awaitTermination()
    }
    def causes(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
    assert(causes(err).exists(c =>
      c.getMessage != null && c.getMessage.contains("reserved")),
      s"expected a loud reserved-sentinel failure, got: ${err.getMessage}")
    // and a REAL minimal id right above the sentinel still ingests
    val corpus2 = tmpDir("sentinel-corpus2")
    val ms2 = MemoryStream[(Long, String, Seq[Double])]
    ms2.addData((Long.MinValue + 1, curText("bravo"), Seq(0.0, 1.0, 0.0, 0.0)))
    graft.streaming.CorpusIngest.startCurationSink(
      ms2.toDF().toDF("doc_id", "text", "embedding"),
      corpus2, tmpDir("sentinel-cp2"), cents)
      .awaitTermination()
    assert(spark.read.parquet(corpus2)
      .select("doc_id").as[Long].collect().toSeq === Seq(Long.MinValue + 1))
  }

  test("exact sink state evidence: seen-set rows live in the RocksDB store and grow with distinct hashes") {
    // The scale claim on the sink ("seen-set in transformWithState
    // ValueState, RocksDB-backed — per-executor local disk, not JVM
    // heap") pinned by the query's own state-operator metrics: state
    // rows == distinct hashes ever admitted (growing across batches,
    // dups adding nothing), reported by a store whose custom metrics
    // are RocksDB's.
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = graft.streaming.CorpusIngest.startDedupedCorpusSink(
      ms.toDF().toDF("doc_id", "text"), tmpDir("state-corpus"),
      tmpDir("state-cp"), minTokens = 1,
      trigger = Trigger.ProcessingTime(0))
    try {
      ms.addData((0 until 50).map(i => (i.toLong, s"unique doc number $i")): _*)
      q.processAllAvailable()
      val p1 = q.lastProgress.stateOperators.head
      assert(p1.operatorName.toLowerCase.contains("transformwithstate"), p1.operatorName)
      assert(p1.numRowsTotal === 50L, s"state rows ${p1.numRowsTotal}")
      // 30 fresh + 20 dups: exactly 30 new state rows
      ms.addData((50 until 80).map(i => (i.toLong, s"unique doc number $i")) ++
        (0 until 20).map(i => (1000L + i, s"unique doc number $i")): _*)
      q.processAllAvailable()
      val p2 = q.lastProgress.stateOperators.head
      assert(p2.numRowsTotal === 80L, s"state rows ${p2.numRowsTotal}")
      val metricKeys = p2.customMetrics.keySet().toArray.map(_.toString)
      assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"state store reports no RocksDB metrics: ${metricKeys.take(10).mkString(", ")}")
    } finally q.stop()
  }

  test("corpus sink: per-batch cost is O(batch) — zero corpus file reads after bootstrap") {
    // The seen-hash set lives in transformWithState ValueState; the corpus
    // hash column is read ONCE as initial state on a fresh checkpoint.
    // Proof, scan-count style: sum executor file-input bytes (MemoryStream
    // and state-store traffic report none) across (a) post-bootstrap
    // batches of a continuous query and (b) a checkpointed RESTART — both
    // must be ZERO regardless of how many partitions the corpus has
    // accumulated. The pre-fix formulation anti-joined the whole corpus
    // hash column every batch, O(batches × corpus) cumulative.
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("corpus-scan")
    val cp = tmpDir("corpus-scan-cp")
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val events = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        events.incrementAndGet()
        if (e.taskMetrics != null) bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
    }
    // poll until the async listener bus has drained (event count stable)
    def drained(): Unit = {
      var prev = -1L
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val now = events.get()
        if (now == prev) stable += 1 else { stable = 0; prev = now }
      }
    }

    val ms = MemoryStream[(Long, String)]
    val q = graft.streaming.CorpusIngest.startDedupedCorpusSink(
      ms.toDF().toDF("doc_id", "text"), corpus, cp, minTokens = 1,
      trigger = Trigger.ProcessingTime(0))
    try {
      ms.addData((1L, "doc one"), (2L, "doc two"))
      q.processAllAvailable() // batch 0: bootstrap (empty — no corpus yet) + write
      spark.sparkContext.addSparkListener(listener)
      for (i <- 2 to 6) {
        // each batch: one fresh doc + a dup of batch 0's keeper — the dup
        // must be dropped via STATE, with no corpus read to consult
        ms.addData((i * 10L, s"fresh doc number $i"), (100L + i, "doc one"))
        q.processAllAvailable()
      }
      drained()
      assert(bytesRead.get() === 0L,
        s"corpus files were read during post-bootstrap batches (${bytesRead.get()} bytes)")
      val docs = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
      assert(docs === Set(1L, 2L, 20L, 30L, 40L, 50L, 60L), s"got $docs")
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }

    // restart with the SAME checkpoint: state restores from the
    // checkpoint — initial state is NOT re-applied, so the (now
    // multi-partition) corpus is not re-scanned either
    bytesRead.set(0)
    spark.sparkContext.addSparkListener(listener)
    try {
      ms.addData((200L, "restart era doc"), (201L, "doc one")) // dup again
      val q2 = graft.streaming.CorpusIngest.startDedupedCorpusSink(
        ms.toDF().toDF("doc_id", "text"), corpus, cp, minTokens = 1)
      q2.awaitTermination()
      drained()
      assert(bytesRead.get() === 0L,
        s"corpus files were read on checkpointed restart (${bytesRead.get()} bytes)")
      val docs = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
      assert(docs.contains(200L) && !docs.contains(201L))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("semantic sink: cross-batch SemDeDup through the cell index; lost-checkpoint replay writes nothing") {
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("sem-corpus")
    val cents = Seq((0, Seq(1.0, 0.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0, 0.0)))
      .toDF("cell_id", "centroid")
    val cp1 = tmpDir("sem-cp")
    val ms = MemoryStream[(Long, String, Seq[Float])]
    def run(cp: String,
        stream: MemoryStream[(Long, String, Seq[Float])] = ms): Unit = {
      val q = graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
        stream.toDF().toDF("doc_id", "text", "embedding"), corpus, cp,
        cents, threshold = 0.9)
      q.processAllAvailable(); q.stop()
    }
    // batch 0: A in cell 0; B in cell 1; C ≈ A (same cell, cosine ~1) →
    // dropped WITHIN the batch by the smaller id
    ms.addData(
      (1L, "doc a", Seq(1.0f, 0.05f, 0f, 0f)),
      (2L, "doc b", Seq(0f, 1.0f, 0f, 0f)),
      (3L, "doc c near a", Seq(0.99f, 0.06f, 0f, 0f)))
    run(cp1)
    def ids(): Set[Long] =
      spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(ids() === Set(1L, 2L))
    // batch 1 (same checkpoint lineage): D ≈ A must be caught via the
    // CORPUS cell probe (cross-batch); E shares B's cell but cosine
    // ≈ 0.7 < 0.9 → kept
    ms.addData(
      (4L, "doc d near a", Seq(0.98f, 0.04f, 0f, 0f)),
      (5L, "doc e novel", Seq(0f, 0.7f, 0.7f, 0f)))
    run(cp1)
    assert(ids() === Set(1L, 2L, 5L))
    // lost checkpoint: a FRESH query replays the same docs — every one
    // cosine-matches its original through the index and the corpus stays
    // byte-identical
    val before = spark.read.parquet(corpus)
      .select("doc_id", "text", "cell").as[(Long, String, Int)].collect().toSet
    val ms2 = MemoryStream[(Long, String, Seq[Float])]
    ms2.addData(
      (1L, "doc a", Seq(1.0f, 0.05f, 0f, 0f)),
      (5L, "doc e novel", Seq(0f, 0.7f, 0.7f, 0f)))
    run(tmpDir("sem-cp2"), ms2)
    val after = spark.read.parquet(corpus)
      .select("doc_id", "text", "cell").as[(Long, String, Int)].collect().toSet
    assert(after === before, "lost-checkpoint replay changed the corpus")
    // drifted centroids are refused loudly, not silently mis-probed
    val drifted = Seq((0, Seq(0.5, 0.5, 0.0, 0.0)), (1, Seq(0.0, 0.0, 1.0, 0.0)))
      .toDF("cell_id", "centroid")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
        MemoryStream[(Long, String, Seq[Float])].toDF()
          .toDF("doc_id", "text", "embedding"),
        corpus, tmpDir("sem-cp3"), drifted)
    }
    assert(e.getMessage.contains("centroids"))
  }

  test("semantic sink probe is cell-pruned: probe bytes do NOT grow with corpus in other cells") {
    // the band-index proof applied to the cell index: probe a near-dup,
    // grow the corpus only in OTHER cells, probe the same vector again —
    // the second probe's executor input bytes must be exactly the first's
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("sembkt-corpus")
    val cp = tmpDir("sembkt-cp")
    val cents = Seq((0, Seq(1.0, 0.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0, 0.0)))
      .toDF("cell_id", "centroid")
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val events = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        events.incrementAndGet()
        if (e.taskMetrics != null) bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
    }
    def drained(): Unit = {
      var prev = -1L; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val now = events.get()
        if (now == prev) stable += 1 else { stable = 0; prev = now }
      }
    }
    val ms = MemoryStream[(Long, String, Seq[Float])]
    def run(): Unit = {
      val q = graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
        ms.toDF().toDF("doc_id", "text", "embedding"), corpus, cp, cents)
      q.processAllAvailable(); q.stop()
    }
    def measuredRun(): Long = {
      bytesRead.set(0)
      spark.sparkContext.addSparkListener(listener)
      try { run(); drained() } finally spark.sparkContext.removeSparkListener(listener)
      bytesRead.get()
    }
    val vA = Seq(1.0f, 0.02f, 0f, 0f) // cell 0
    ms.addData((10L, "keeper a", vA))
    run()
    ms.addData((20L, "near dup of a", Seq(0.99f, 0.03f, 0f, 0f)))
    val b1 = measuredRun()
    assert(b1 > 0L, "probe read nothing — the near-dup was not checked against the cell index")
    assert(ids(corpus) === Set(10L))
    // grow the corpus with cell-1 docs only (3 batches; mutually
    // dissimilar — pairwise cosine ≤ 0.6 — so each one is kept), with
    // ~35 KB of incompressible text each so an unpruned probe would
    // read ~100 KB more
    val fillers = Seq(
      Seq(0f, 1.0f, 0f, 0f), Seq(0f, 0.6f, 0.8f, 0f), Seq(0f, 0.6f, -0.8f, 0f))
    val heavy = (0 until 2000).map(i =>
      java.util.UUID.nameUUIDFromBytes(Array(i.toByte, (i >> 8).toByte))).mkString(" ")
    fillers.zipWithIndex.foreach { case (v, i) =>
      ms.addData((100L + i, s"cell1 filler $i $heavy", v))
      run()
    }
    ms.addData((30L, "near dup of a again", Seq(0.98f, 0.01f, 0f, 0f)))
    val b2 = measuredRun()
    // exact equality modulo bounded per-batch METADATA (offset-log /
    // footer reads, measured ≈ 144 B per run): the ~100 KB of cell-1
    // data must not be read
    assert(b2 - b1 <= 2048,
      s"probe bytes grew with corpus partitions in OTHER cells ($b1 → $b2) — cell pruning is broken")
    assert(ids(corpus) === Set(10L, 100L, 101L, 102L))
  }

  private def ids(corpus: String): Set[Long] =
    spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet

  test("exact sink cross-epoch fold: resumed checkpoints dedupe against partitions other writers grew") {
    // Through round 8 this was the sink family's last convention-guarded
    // invariant: a RESUMED checkpoint restores state from its checkpoint
    // (initial state applies only to fresh starts), so hashes another
    // epoch ingested while it was down were invisible and interleaved
    // writers admitted cross-epoch duplicates. The fold reads the
    // unseen (epoch, batch_id) partitions' hash column once at start.
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("fold-corpus")
    val cpA = tmpDir("fold-cpA")
    val cpB = tmpDir("fold-cpB")
    val docA = "alpha writer first document"
    val docB = "bravo writer second document"
    val docC = "charlie resumed novel document"
    def run(ms: MemoryStream[(Long, String)], cp: String): Unit =
      graft.streaming.CorpusIngest.startDedupedCorpusSink(
        ms.toDF().toDF("doc_id", "text"), corpus, cp, minTokens = 1)
        .awaitTermination()
    def state(): Set[(Long, Long, Long)] =
      spark.read.parquet(corpus)
        .select(col("doc_id"), col("epoch").cast("long"), col("batch_id").cast("long"))
        .as[(Long, Long, Long)].collect().toSet

    // writer A (epoch 0) ingests docA; writer B (epoch 1, fresh start)
    // absorbs epoch 0 via bootstrap and ingests docB
    val msA = MemoryStream[(Long, String)]
    msA.addData((1L, docA))
    run(msA, cpA)
    val msB = MemoryStream[(Long, String)]
    msB.addData((2L, docB))
    run(msB, cpB)
    assert(state() === Set((1L, 0L, 0L), (2L, 1L, 0L)))

    // A RESUMES: its state has never seen epoch 1 — the fold must drop
    // the cross-epoch dup of docB; the novel docC lands under A's epoch
    msA.addData((4L, docB), (5L, docC))
    run(msA, cpA)
    assert(state() === Set((1L, 0L, 0L), (2L, 1L, 0L), (5L, 0L, 1L)),
      "resumed checkpoint admitted a cross-epoch duplicate")

    // B RESUMES: epoch 0 was in B's absorbed set, but its batch 1 (docC)
    // landed AFTER B's fresh start — batch-granular folding must catch
    // a dup of docC too (epoch-granular tracking would miss it)
    msB.addData((6L, docC))
    run(msB, cpB)
    assert(state() === Set((1L, 0L, 0L), (2L, 1L, 0L), (5L, 0L, 1L)),
      "absorbed epoch's NEW batch leaked through the fold")

    // and later arrivals of a folded hash keep dropping through STATE
    // (the fold marked it seen) — same run topology, new resume
    msA.addData((7L, docB))
    run(msA, cpA)
    assert(state() === Set((1L, 0L, 0L), (2L, 1L, 0L), (5L, 0L, 1L)))
  }

  test("compactCorpus: removes concurrent-writer dups deterministically, rewrites only affected partitions") {
    // The one residual the start-time fold cannot cover: epochs growing
    // WHILE a query runs. Manufacture that end state directly (two
    // epochs sharing hashes), then assert the batch compaction removes
    // exactly the losers, keeps the smallest doc_id, leaves clean
    // partitions byte-untouched, sweeps fully-loser partitions, and is
    // idempotent.
    implicit val ctx = spark.sqlContext
    import graft.functions.TextAnalysis
    val corpus = tmpDir("compact-corpus")
    def part(rows: Seq[(Long, String)], epoch: Long, batch: Long): Unit =
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"),
          TextAnalysis.fingerprint(col("text")).as("content_hash"),
          lit(epoch).as("epoch"), lit(batch).as("batch_id"))
        .write.mode("append").partitionBy("epoch", "batch_id").parquet(corpus)

    val dA = "duplicated across epochs alpha"
    val dB = "duplicated across epochs bravo"
    part(Seq((10L, dA), (11L, "clean epoch zero doc")), 0L, 0L)
    part(Seq((12L, "another clean zero doc")), 0L, 1L) // fully clean partition
    part(Seq((20L, dA), (21L, dB)), 1L, 0L)            // fully-loser partition
    part(Seq((5L, dB), (22L, "clean epoch one doc")), 1L, 1L) // keeper of dB by smaller id

    val cleanDir = new java.io.File(corpus, "epoch=0/batch_id=1")
    val beforeFiles = cleanDir.listFiles().map(f => (f.getName, f.lastModified())).toSet

    val removed = graft.streaming.CorpusIngest.compactCorpus(spark, corpus)
    assert(removed === 2L, s"expected 2 losers (doc 20 for dA, doc 21 for dB), got $removed")
    val state = spark.read.parquet(corpus)
      .select(col("doc_id"), col("epoch").cast("long"), col("batch_id").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    // dA keeper: doc 10 (smallest id); dB keeper: doc 5 (smallest id,
    // even though it landed in a LATER epoch)
    assert(state === Set((10L, 0L, 0L), (11L, 0L, 0L), (12L, 0L, 1L),
      (5L, 1L, 1L), (22L, 1L, 1L)), s"got $state")
    // fully-loser partition directory swept
    assert(!new java.io.File(corpus, "epoch=1/batch_id=0").exists(),
      "fully-loser partition left behind")
    // untouched partition kept its exact files
    assert(cleanDir.listFiles().map(f => (f.getName, f.lastModified())).toSet
      === beforeFiles, "a clean partition was rewritten")
    // idempotent
    assert(graft.streaming.CorpusIngest.compactCorpus(spark, corpus) === 0L)
  }

  test("compactCorpus: an over-ceiling affected-partition backlog is refused loudly (conf-overridable)") {
    // The struct-isin predicate is constant-depth at any pair count,
    // but the pair SET still lives on the driver — the guard turns a
    // pathological never-compacted backlog into a loud, actionable
    // failure instead of one unbounded rewrite job.
    implicit val ctx = spark.sqlContext
    import graft.functions.TextAnalysis
    val corpus = tmpDir("compact-corpus-guard")
    // 3 affected partitions: each holds a dup of partition 0's keeper
    (Seq((0L, "guard keeper text", 0L)) ++
      (1 to 3).map(p => (100L + p, "guard keeper text", p.toLong)))
      .toDF("doc_id", "text", "batch_id")
      .select(col("doc_id"), col("text"),
        TextAnalysis.fingerprint(col("text")).as("content_hash"),
        lit(0L).as("epoch"), col("batch_id"))
      .write.mode("overwrite").partitionBy("epoch", "batch_id").parquet(corpus)
    spark.conf.set(graft.streaming.CorpusIngest.MaxCompactionPairsKey, "2")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.streaming.CorpusIngest.compactCorpus(spark, corpus)
      }
      assert(e.getMessage.contains(
        graft.streaming.CorpusIngest.MaxCompactionPairsKey),
        s"guard message must name the override key: ${e.getMessage}")
      assert(e.getMessage.contains("3 affected"),
        s"guard message must carry the pair count: ${e.getMessage}")
    } finally spark.conf.unset(
      graft.streaming.CorpusIngest.MaxCompactionPairsKey)
    // a TYPO'D ceiling conf fails in the guard's actionable style (key +
    // offending value), not as a bare NumberFormatException
    spark.conf.set(graft.streaming.CorpusIngest.MaxCompactionPairsKey, "1O0")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.streaming.CorpusIngest.compactCorpus(spark, corpus)
      }
      assert(e.getMessage.contains(
        graft.streaming.CorpusIngest.MaxCompactionPairsKey) &&
        e.getMessage.contains("1O0"),
        s"malformed-conf message must name the key and value: ${e.getMessage}")
    } finally spark.conf.unset(
      graft.streaming.CorpusIngest.MaxCompactionPairsKey)
    // a NON-POSITIVE ceiling parses as a long but would refuse every
    // compaction with a nonsense negative/zero ceiling — it must fail
    // with the same actionable style as a typo
    for (bad <- Seq("0", "-5")) {
      spark.conf.set(graft.streaming.CorpusIngest.MaxCompactionPairsKey, bad)
      try {
        val e = intercept[IllegalArgumentException] {
          graft.streaming.CorpusIngest.compactCorpus(spark, corpus)
        }
        assert(e.getMessage.contains(
          graft.streaming.CorpusIngest.MaxCompactionPairsKey) &&
          e.getMessage.contains(bad) &&
          e.getMessage.contains("positive"),
          s"non-positive-conf message must name key/value/fix: ${e.getMessage}")
      } finally spark.conf.unset(
        graft.streaming.CorpusIngest.MaxCompactionPairsKey)
    }
    // with the default ceiling the same backlog compacts normally
    assert(graft.streaming.CorpusIngest.compactCorpus(spark, corpus) === 3L)
  }

  test("compactCorpus: a 1000-partition backlog compacts with a flat (constant-depth) predicate") {
    // The per-pair OR-chain this replaced grew the predicate tree depth
    // linearly with the affected-partition count — a pathological
    // backlog deep-recursed the analyzer and defeated codegen. Pin the
    // fix twice: (a) inPartitionPairs stays constant-depth at 5000
    // pairs; (b) an actual ≥1000-affected-partition compaction
    // completes correctly and leaves the one clean partition untouched.
    implicit val ctx = spark.sqlContext
    import graft.functions.TextAnalysis

    def depth(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
      if (e.children.isEmpty) 1 else 1 + e.children.map(depth).max
    val manyPairs = (0 until 5000).map(i => (i.toLong / 100L, i.toLong % 100L))
    val flat = graft.streaming.CorpusIngest.inPartitionPairs(manyPairs)
    val flatExpr = org.apache.spark.sql.GraftBridge.expression(flat)
    assert(depth(flatExpr) <= 8,
      s"membership predicate depth ${depth(flatExpr)} grows with pair count")
    // and the struct-isin semantics are the membership they replaced
    val probe = Seq((1L, 7L, "in"), (1L, 107L, "out"), (49L, 99L, "in"))
      .toDF("epoch", "batch_id", "tag")
    assert(probe.filter(flat).select("tag").as[String].collect().toSet === Set("in"))

    // end-to-end: 1050 partitions, each holding one keeper (text tP)
    // and one loser (a dup of the NEXT partition's keeper text) →
    // every partition is affected and rewritten, 1050 losers total;
    // plus one clean partition that must keep its exact files
    val corpus = tmpDir("compact-corpus-big")
    val keepers = (0 until 1050).map(p =>
      (p.toLong, s"backlog text $p", p.toLong / 100L, p.toLong % 100L))
    val losers = (0 until 1050).map { p =>
      val q = (p + 1) % 1050
      (10000L + q, s"backlog text $q", p.toLong / 100L, p.toLong % 100L)
    }
    (keepers ++ losers :+ ((99999L, "clean solitary doc", 99L, 0L)))
      .toDF("doc_id", "text", "epoch", "batch_id")
      .select(col("doc_id"), col("text"),
        TextAnalysis.fingerprint(col("text")).as("content_hash"),
        col("epoch"), col("batch_id"))
      .write.mode("overwrite").partitionBy("epoch", "batch_id").parquet(corpus)
    val cleanDir = new java.io.File(corpus, "epoch=99/batch_id=0")
    val beforeFiles = cleanDir.listFiles().map(f => (f.getName, f.lastModified())).toSet

    val removed = graft.streaming.CorpusIngest.compactCorpus(spark, corpus)
    assert(removed === 1050L, s"expected 1050 losers, got $removed")
    val kept = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(kept === ((0 until 1050).map(_.toLong).toSet + 99999L),
      s"keepers must be the 1050 smallest doc_ids plus the clean doc (got ${kept.size} rows)")
    assert(cleanDir.listFiles().map(f => (f.getName, f.lastModified())).toSet
      === beforeFiles, "the clean partition was rewritten")
    assert(graft.streaming.CorpusIngest.compactCorpus(spark, corpus) === 0L)

    // the struct-isin form must still PRUNE at file listing, not just
    // filter rows — one pair selected ⇒ one partition directory scanned
    val pruned = spark.read.parquet(corpus)
      .filter(graft.streaming.CorpusIngest.inPartitionPairs(Seq((0L, 0L))))
    pruned.collect()
    val scanned = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned === Seq(1),
      s"struct-isin did not partition-prune: scanned $scanned of 1051 partitions")
  }

  test("rehashCorpus: stale-canon hashes converge, only stale partitions rewritten, duplicates collapse, idempotent") {
    implicit val ctx = spark.sqlContext
    import graft.functions.TextAnalysis
    val corpus = tmpDir("rehash-corpus")
    // the PRE-round-11 canon (trim before collapse): "doc one\n"
    // hashed with a trailing space under it
    val oldCanonHash = md5(lower(regexp_replace(trim(col("text")), "\\s+", " ")))
    Seq((1L, "doc one")).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        TextAnalysis.fingerprint(col("text")).as("content_hash"),
        lit(0L).as("epoch"), lit(0L).as("batch_id"))
      .write.mode("append").partitionBy("epoch", "batch_id").parquet(corpus)
    Seq((2L, "doc one\n"), (3L, "another doc")).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), oldCanonHash.as("content_hash"),
        lit(0L).as("epoch"), lit(1L).as("batch_id"))
      .write.mode("append").partitionBy("epoch", "batch_id").parquet(corpus)
    val cleanDir = new java.io.File(corpus, "epoch=0/batch_id=0")
    val before = cleanDir.listFiles().map(f => (f.getName, f.lastModified())).toSet

    // doc 2 is a trailing-newline duplicate of doc 1 stored under the
    // old canon: before rehash, compaction CANNOT see them as dups
    val (rewritten, removed) = graft.streaming.CorpusIngest.rehashCorpus(spark, corpus)
    assert(rewritten === 1L, s"only the stale partition should rewrite, got $rewritten")
    assert(removed === 1L, s"the newline variant should collapse, got $removed")
    val state = spark.read.parquet(corpus)
      .select(col("doc_id"), col("content_hash")).as[(Long, String)].collect().toMap
    assert(state.keySet === Set(1L, 3L))
    // every surviving hash is the CURRENT canon
    val current = spark.read.parquet(corpus)
      .filter(TextAnalysis.fingerprint(col("text")) =!= col("content_hash")).count()
    assert(current === 0L, "a stale hash survived the rehash")
    // the already-current partition kept its exact files
    assert(cleanDir.listFiles().map(f => (f.getName, f.lastModified())).toSet
      === before, "a current-canon partition was rewritten")
    assert(graft.streaming.CorpusIngest.rehashCorpus(spark, corpus) === ((0L, 0L)))
  }

  test("createExclusive: exactly one of N concurrent local-FS creators wins") {
    // Raw/ChecksumFileSystem's create(overwrite=false) is check-then-act
    // (exists() then a truncating FileOutputStream open) — the local-FS
    // path must go through NIO O_CREAT|O_EXCL instead. Hammer one path
    // from 16 threads; the kernel must admit exactly one.
    val dir = new org.apache.hadoop.fs.Path(tmpDir("excl"))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    for (round <- 0 until 20) {
      val f = new org.apache.hadoop.fs.Path(dir, s"claim-$round")
      val gate = new java.util.concurrent.CountDownLatch(1)
      val wins = new java.util.concurrent.atomic.AtomicInteger
      val threads = (0 until 16).map { _ =>
        new Thread(() => {
          gate.await()
          if (graft.streaming.CorpusIngest.createExclusive(fs, f)) wins.incrementAndGet()
        })
      }
      threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
      assert(wins.get() === 1, s"round $round: ${wins.get()} concurrent creators won")
    }
  }

  test("corpus sink caches (benchmark grams, foreign hashes) are unpersisted when the query terminates") {
    implicit val ctx = spark.sqlContext
    val sc = spark.sparkContext
    val bench = Seq(Tuple1("some benchmark eval question with at least eight tokens here")).toDF("text")
    def waitUnpersisted(baseline: scala.collection.Set[Int]): Unit = {
      val deadline = System.currentTimeMillis() + 20000
      while ((sc.getPersistentRDDs.keySet -- baseline).nonEmpty &&
          System.currentTimeMillis() < deadline) Thread.sleep(100)
      val leftover = sc.getPersistentRDDs.keySet -- baseline
      assert(leftover.isEmpty, s"cache entries outlived their query: " +
        leftover.map(id => s"$id=${sc.getPersistentRDDs.get(id).map(_.toString).getOrElse("?")}").mkString("; "))
    }

    // exact sink, gated + a resume that folds a foreign epoch: BOTH
    // caches must be gone after termination
    val corpus = tmpDir("unp-corpus")
    val cpA = tmpDir("unp-cpA")
    val cpB = tmpDir("unp-cpB")
    val msA = MemoryStream[(Long, String)]
    msA.addData((1L, "writer a document body"))
    graft.streaming.CorpusIngest.startDedupedCorpusSink(
      msA.toDF().toDF("doc_id", "text"), corpus, cpA, minTokens = 1,
      benchmark = Some(bench)).awaitTermination()
    val msB = MemoryStream[(Long, String)]
    msB.addData((2L, "writer b document body"))
    graft.streaming.CorpusIngest.startDedupedCorpusSink(
      msB.toDF().toDF("doc_id", "text"), corpus, cpB, minTokens = 1).awaitTermination()
    val baseline = sc.getPersistentRDDs.keySet
    // resume A: foreign-hash fold (epoch 1 unseen) + gram set, both live
    // during the query, both unpersisted at termination
    msA.addData((3L, "writer a second document"))
    graft.streaming.CorpusIngest.startDedupedCorpusSink(
      msA.toDF().toDF("doc_id", "text"), corpus, cpA, minTokens = 1,
      benchmark = Some(bench)).awaitTermination()
    waitUnpersisted(baseline)

    // near-dup sink's gram set too
    val ndMs = MemoryStream[(Long, String)]
    ndMs.addData((1L, (0 until 60).map(i => s"ndu$i").mkString(" ")))
    graft.streaming.CorpusIngest.startNearDupCorpusSink(
      ndMs.toDF().toDF("doc_id", "text"), tmpDir("unp-nd-corpus"),
      tmpDir("unp-nd-cp"), minTokens = 1, benchmark = Some(bench)).awaitTermination()
    waitUnpersisted(baseline)

    // a batch (non-streaming) frame is refused by every standalone sink
    // before any side effect: no gram set registered with the cache
    // manager (an entry that was never materialized is invisible to
    // getPersistentRDDs; storageLevel looks the plan up there), no
    // epoch claim, no checkpoint marker
    val grams = bench.select(explode(graft.functions.NativeExpressions.shingleHashes(
      graft.functions.Dedup.shingleCanon(col("text")), 8)).as("__g")).distinct()
    val batchDocs = Seq((1L, "a batch frame document body", Seq(1.0, 0.0)))
      .toDF("doc_id", "text", "embedding")
    val starts: Seq[(String, (String, String) => Any)] = Seq(
      "near-dup" -> ((c, cp) => graft.streaming.CorpusIngest.startNearDupCorpusSink(
        batchDocs, c, cp, benchmark = Some(bench))),
      "containment" -> ((c, cp) => graft.streaming.CorpusIngest.startContainmentCorpusSink(
        batchDocs, c, cp, benchmark = Some(bench))),
      "semantic" -> ((c, cp) => graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
        batchDocs, c, cp, Seq((0, Seq(1.0, 0.0))).toDF("cell_id", "centroid"),
        benchmark = Some(bench))))
    starts.foreach { case (name, start) =>
      val corpusDir = tmpDir(s"unp-batch-$name-corpus")
      val cpDir = tmpDir(s"unp-batch-$name-cp")
      val e = intercept[IllegalArgumentException](start(corpusDir, cpDir))
      assert(e.getMessage.contains("streaming"), s"$name: ${e.getMessage}")
      assert(grams.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
        s"$name: a refused start left the gram set in the cache manager")
      assert(!new java.io.File(corpusDir, "_graft_epochs").exists(),
        s"$name: a refused start claimed an epoch")
      assert(!new java.io.File(cpDir, "graft-epoch").exists(),
        s"$name: a refused start pinned an epoch in the checkpoint")
    }
  }

  test("band/cell index reconcile: a corpus batch missing from the index is backfilled at next start") {
    // The double-failure window: crash between the corpus write and the
    // index write PLUS checkpoint loss — the batch never re-fires, the
    // corpus partition exists, the index partition doesn't, and a fresh
    // epoch's probe would re-admit near-dups of that batch. Simulate by
    // deleting the index partitions of one batch, then start a fresh
    // query probing a near-dup of that batch's keeper.
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("recon-corpus")
    val tA = (0 until 60).map(i => s"recon$i").mkString(" ")
    val ms = MemoryStream[(Long, String)]
    ms.addData((10L, tA))
    graft.streaming.CorpusIngest.startNearDupCorpusSink(
      ms.toDF().toDF("doc_id", "text"), corpus, tmpDir("recon-cp1"),
      minTokens = 1).awaitTermination()
    // wipe batch (0,0) from the index — every pfx bucket's copy
    val idx = new java.io.File(corpus, "_graft_bands")
    def wipe(dir: java.io.File): Unit = {
      dir.listFiles().foreach { f =>
        if (f.isDirectory && f.getName == "epoch=0") { // the batch's subtree
          def rm(x: java.io.File): Unit = {
            if (x.isDirectory) x.listFiles().foreach(rm); x.delete(); ()
          }
          rm(f)
        } else if (f.isDirectory) wipe(f)
      }
    }
    wipe(idx)
    assert(!new java.io.File(corpus, "_graft_bands").listFiles()
      .exists(f => f.isDirectory && new java.io.File(f, "epoch=0").exists()),
      "fixture: index subtree not wiped")
    // fresh checkpoint, near-dup of the wiped batch's keeper: reconcile
    // must backfill the index before the first probe, so it drops
    val ms2 = MemoryStream[(Long, String)]
    ms2.addData((20L, tA + " tail"))
    graft.streaming.CorpusIngest.startNearDupCorpusSink(
      ms2.toDF().toDF("doc_id", "text"), corpus, tmpDir("recon-cp2"),
      minTokens = 1).awaitTermination()
    assert(ids(corpus) === Set(10L), "missing index batch was not reconciled — near-dup re-admitted")

    // cell index: same wipe + reconcile through the semantic sink
    val semCorpus = tmpDir("recon-sem-corpus")
    val cents = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("cell_id", "centroid")
    val ms3 = MemoryStream[(Long, String, Seq[Float])]
    ms3.addData((10L, "sem keeper", Seq(1.0f, 0.01f)))
    graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
      ms3.toDF().toDF("doc_id", "text", "embedding"), semCorpus,
      tmpDir("recon-sem-cp1"), cents).awaitTermination()
    wipe(new java.io.File(semCorpus, "_graft_cells"))
    val ms4 = MemoryStream[(Long, String, Seq[Float])]
    ms4.addData((20L, "sem near dup", Seq(0.99f, 0.02f)))
    graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
      ms4.toDF().toDF("doc_id", "text", "embedding"), semCorpus,
      tmpDir("recon-sem-cp2"), cents).awaitTermination()
    assert(ids(semCorpus) === Set(10L), "missing cell-index batch was not reconciled")
  }

  test("band-index adoption heals canon-drifted stored bands from text, then indexes the healed columns") {
    // Round-13 ADVICE: adoption used to TRUST stored band0..* columns —
    // a pre-NFC corpus's old-canon hashes got indexed and stamped
    // canon=nfc1, making the drift permanently silent. Adoption now
    // recomputes from text under the current canon (the rehashCorpus
    // analogue) and rewrites drifted partitions first.
    implicit val ctx = spark.sqlContext
    import graft.functions.Dedup
    val corpus = tmpDir("adopt-heal-corpus")
    val tA = (0 until 60).map(i => s"heal$i").mkString(" ")
    // stored bands computed under an "old canon": drifted values that
    // share no bucket with the current-canon recompute
    Seq((10L, tA)).toDF("doc_id", "text")
      .withColumn("band0", lit("00000000000000000000000000000000"))
      .withColumn("band1", lit("11111111111111111111111111111111"))
      .withColumn("band2", lit("22222222222222222222222222222222"))
      .withColumn("band3", lit("33333333333333333333333333333333"))
      .withColumn("epoch", lit(0L)).withColumn("batch_id", lit(0L))
      .write.mode("overwrite").partitionBy("epoch", "batch_id").parquet(corpus)
    graft.streaming.CorpusIngest.buildBandIndex(spark, corpus)
    // the stored columns were rewritten from text under the current canon
    val freshSig = Dedup.lshSignature(
      Seq((10L, tA)).toDF("doc_id", "text"), "text", 16, 4, 3)
    val fresh = freshSig.select("band0", "band1", "band2", "band3").head()
    freshSig.unpersist(false)
    val healed = spark.read.parquet(corpus)
      .select("band0", "band1", "band2", "band3").head()
    assert(healed === fresh, "adoption left old-canon stored bands in place")
    // the sidecar indexed the HEALED bands: a fresh query probing a
    // current-canon near-dup of the stored doc drops it
    val idxBh = spark.read.parquet(corpus + "/_graft_bands")
      .select("bh").collect().map(_.getString(0)).toSet
    assert(idxBh === (0 to 3).map(fresh.getString).toSet,
      s"index rows must carry the recomputed bands, got $idxBh")
    val ms = MemoryStream[(Long, String)]
    ms.addData((20L, tA + " tail"))
    graft.streaming.CorpusIngest.startNearDupCorpusSink(
      ms.toDF().toDF("doc_id", "text"), corpus, tmpDir("adopt-heal-cp"),
      minTokens = 1).awaitTermination()
    assert(ids(corpus) === Set(10L),
      "old-canon adoption re-admitted a near-dup the current canon catches")
    // idempotent: a current-canon corpus adoption rewrites nothing
    val before = new java.io.File(corpus, "epoch=0/batch_id=0")
      .listFiles().map(f => (f.getName, f.lastModified())).toSet
    val idx2 = new java.io.File(corpus, "_graft_bands")
    def rmAll(x: java.io.File): Unit = {
      if (x.isDirectory) x.listFiles().foreach(rmAll); x.delete(); ()
    }
    rmAll(idx2)
    graft.streaming.CorpusIngest.buildBandIndex(spark, corpus)
    assert(new java.io.File(corpus, "epoch=0/batch_id=0")
      .listFiles().map(f => (f.getName, f.lastModified())).toSet === before,
      "re-adoption of a current-canon corpus rewrote partitions")
  }

  test("semantic sink: planted NaN embedding ingests without task death, lands in the fallback cell") {
    // the batch path pins nearestCells' NaN fallback (lowest cell); the
    // sink path inherited it untested — a corrupt embedding mid-stream
    // must neither kill the micro-batch nor corrupt the index layout
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("sem-nan-corpus")
    val cents = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("cell_id", "centroid")
    val ms = MemoryStream[(Long, String, Seq[Float])]
    ms.addData(
      (1L, "sane doc", Seq(0f, 1.0f)),
      (2L, "corrupt doc", Seq(Float.NaN, 1.0f)))
    graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
      ms.toDF().toDF("doc_id", "text", "embedding"), corpus,
      tmpDir("sem-nan-cp"), cents).awaitTermination()
    val got = spark.read.parquet(corpus).select("doc_id", "cell")
      .as[(Long, Int)].collect().toMap
    assert(got.keySet === Set(1L, 2L), "NaN doc lost or batch died")
    assert(got(2L) === 0, s"NaN doc landed in cell ${got(2L)}, want fallback 0")
    // and the NaN doc is probe-able: a second batch's NaN doc is NOT a
    // cosine-dup of it — pairScore maps NaN to −∞ (Spark SQL orders
    // NaN ABOVE every value, so a raw NaN score would pass any
    // threshold and silently delete every later corrupt doc) — so it
    // lands too; no task death through the probe path either
    ms.addData((3L, "another corrupt doc", Seq(Float.NaN, 0.5f)))
    graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
      ms.toDF().toDF("doc_id", "text", "embedding"), corpus,
      tmpDir("sem-nan-cp"), cents).awaitTermination()
    assert(ids(corpus) === Set(1L, 2L, 3L))
  }

  test("semantic sink: dot metric thresholds raw inner product, diverging from cosine where magnitude matters") {
    implicit val ctx = spark.sqlContext
    val cents = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("cell_id", "centroid")
    // A=(0.3,0) and B=(0.3,0.01): cosine ≈ 0.9994 (≥0.9 → dup) but
    // dot ≈ 0.09 (< 0.5 → distinct)
    def run(corpus: String, cp: String, metric: String, threshold: Double): Unit = {
      val ms = MemoryStream[(Long, String, Seq[Float])]
      ms.addData(
        (1L, "doc a", Seq(0.3f, 0.0f)),
        (2L, "doc b", Seq(0.3f, 0.01f)))
      graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
        ms.toDF().toDF("doc_id", "text", "embedding"), corpus, cp, cents,
        threshold = threshold, metric = metric).awaitTermination()
    }
    val cosCorpus = tmpDir("sem-dot-cos")
    run(cosCorpus, tmpDir("sem-dot-cp1"), "cosine", 0.9)
    assert(ids(cosCorpus) === Set(1L), "cosine metric should collapse the pair")
    val dotCorpus = tmpDir("sem-dot-dot")
    run(dotCorpus, tmpDir("sem-dot-cp2"), "dot", 0.5)
    assert(ids(dotCorpus) === Set(1L, 2L), "dot metric should keep the low-magnitude pair")
    // and an unknown metric is refused loudly
    val err = intercept[IllegalArgumentException] {
      run(tmpDir("sem-dot-x"), tmpDir("sem-dot-cp3"), "euclidean", 0.5)
    }
    assert(err.getMessage.contains("metric"))
  }

  test("semantic sink: contamination gate drops benchmark-overlapping docs before cell assignment") {
    implicit val ctx = spark.sqlContext
    val evalText = "what is the boiling point of water at sea level in celsius degrees"
    val bench = Seq(Tuple1(evalText)).toDF("text")
    val corpus = tmpDir("sem-contam-corpus")
    val cents = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("cell_id", "centroid")
    val ms = MemoryStream[(Long, String, Seq[Float])]
    ms.addData(
      (1L, (0 until 30).map(i => s"clean$i").mkString(" "), Seq(1.0f, 0f)),
      (2L, "leading words " + evalText, Seq(0f, 1.0f)))
    graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
      ms.toDF().toDF("doc_id", "text", "embedding"), corpus,
      tmpDir("sem-contam-cp"), cents, benchmark = Some(bench)).awaitTermination()
    assert(ids(corpus) === Set(1L), "semantic sink let a contaminated doc through")
  }

  test("streaming heavy tokens: per-source MG state accumulates across batches, matches exact counts") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[(String, String)]
      val q = graft.streaming.TokenStats.heavyTokensStream(
          ms.toDF().toDF("source", "text"), "source", "text", k = 32, top = 3)
        .writeStream.outputMode("update").format("memory")
        .queryName("heavy_toks").start()

      ms.addData(("webA", "the cat the dog"), ("webB", "x y"))
      q.processAllAvailable()
      val b1 = spark.table("heavy_toks")
        .as[(String, String, Long, Int)].collect().toSet
      // webA: the=2, cat=1, dog=1 (ties on token); webB: x=1, y=1
      assert(b1 === Set(
        ("webA", "the", 2L, 1), ("webA", "cat", 1L, 2), ("webA", "dog", 1L, 3),
        ("webB", "x", 1L, 1), ("webB", "y", 1L, 2)))

      // batch 2 only touches webA — its counters must carry over batch 1
      ms.addData(("webA", "cat cat cat"))
      q.processAllAvailable()
      q.stop()
      // update-mode memory sink appends each emission; the final webA
      // total is the max estimate ever reported for the token
      val webA = spark.table("heavy_toks")
        .as[(String, String, Long, Int)].collect()
        .filter(r => r._1 == "webA" && r._2 == "cat").map(_._3).max
      assert(webA === 4L, s"cat should total 1+3 across batches, got $webA")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming centroid drift: per-cell state accumulates; drift rises on distribution shift") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Seq[Double]]
      val cents = Seq((0, Seq(0.0, 0.0)), (1, Seq(10.0, 0.0)))
        .toDF("cell_id", "centroid")
      val q = graft.streaming.CentroidDrift.centroidDriftStream(
          ms.toDF().toDF("embedding"), "embedding", cents)
        .writeStream.outputMode("update").format("memory")
        .queryName("drift").start()

      // batch 1: symmetric members around each pinned centroid — the
      // running mean sits ON the centroid, so drift must be ~0 while
      // mean_dist reflects the spread
      ms.addData(Seq(0.1, 0.0), Seq(-0.1, 0.0), Seq(10.1, 0.0), Seq(9.9, 0.0))
      q.processAllAvailable()
      val b1 = spark.table("drift").as[(Int, Long, Double, Double)]
        .collect().map(r => r._1 -> r).toMap
      assert(b1.keySet === Set(0, 1))
      b1.values.foreach { case (cell, n, drift, meanDist) =>
        assert(n === 2L, s"cell $cell n=$n")
        assert(drift < 1e-9, s"cell $cell drift=$drift")
        assert(math.abs(meanDist - 0.1) < 1e-9, s"cell $cell meanDist=$meanDist")
      }

      // batch 2 shifts cell 0's distribution; cell 1 is untouched and
      // must NOT re-emit (its state still carries batch 1). The null,
      // wrong-dimension, and NaN-element vectors must be DROPPED, not
      // kill the query or distort the stats (uncurated-stream
      // hardening) — one admitted NaN element would poison cell 0's
      // ValueState sums for the life of the query.
      ms.addData(Seq(2.0, 0.0), Seq(2.0, 0.0),
        null.asInstanceOf[Seq[Double]], Seq(42.0), Seq(Double.NaN, 0.0),
        // ±Inf passes isnan() but would poison the running sums just
        // like NaN (and Inf later meeting −Inf turns them NaN)
        Seq(Double.PositiveInfinity, 0.0), Seq(Double.NegativeInfinity, 0.0))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("drift").as[(Int, Long, Double, Double)].collect()
      assert(!rows.exists(r => r._1 === 1 && r._2 > 2L), "cell 1 re-emitted without input")
      val c0 = rows.filter(r => r._1 === 0 && r._2 === 4L)
      assert(c0.length === 1, rows.mkString(","))
      // mean over 4 members = (1.0, 0) → drift 1.0; distances 0.1+0.1+2+2
      assert(math.abs(c0.head._3 - 1.0) < 1e-9, c0.head.toString)
      assert(math.abs(c0.head._4 - 1.05) < 1e-9, c0.head.toString)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("semantic-sink drift alerts: an injected drift fires exactly one edge-triggered alert") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the semantic sink's input shape (doc_id, text, embedding) and
      // pinned centroids, shared with the opt-in monitor query
      val ms = MemoryStream[(Long, String, Seq[Double])]
      val cents = Seq((0, Seq(0.0, 0.0)), (1, Seq(10.0, 0.0)))
        .toDF("cell_id", "centroid")
      val q = graft.streaming.CorpusIngest.semanticDriftAlerts(
          ms.toDF().toDF("doc_id", "text", "embedding"), cents,
          driftThreshold = 0.5)
        .writeStream.outputMode("update").format("memory")
        .queryName("drift_alerts").start()

      // batch 1: symmetric members — running mean ON the centroid,
      // drift 0, nothing to alert
      ms.addData((1L, "a", Seq(0.1, 0.0)), (2L, "b", Seq(-0.1, 0.0)))
      q.processAllAvailable()
      assert(spark.table("drift_alerts").count() === 0,
        "alert fired without drift")

      // batch 2: inject the drift — running mean moves to (1.0, 0),
      // drift 1.0 ≥ 0.5 → exactly one alert row for cell 0
      ms.addData((3L, "c", Seq(2.0, 0.0)), (4L, "d", Seq(2.0, 0.0)))
      q.processAllAvailable()
      val fired = spark.table("drift_alerts")
        .as[(Int, Long, Double, Double)].collect()
      assert(fired.length === 1 && fired.head._1 === 0 &&
        math.abs(fired.head._3 - 1.0) < 1e-9, fired.mkString(","))

      // batch 3: the drifted steady state continues — edge-triggered
      // means SILENT, not one alert per batch
      ms.addData((5L, "e", Seq(2.0, 0.0)))
      q.processAllAvailable()
      q.stop()
      assert(spark.table("drift_alerts").count() === 1,
        "a steady drifted state must not re-alert every batch")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming centroid drift: null ELEMENTS inside a vector are dropped, not decoded") {
    // A null element (array<double> with nullable elements) would throw at
    // the non-nullable (Int, Seq[Double], Double) decode and kill the
    // monitor; the element-level hardening filter must drop the row first.
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Seq[Option[Double]]]
      val cents = Seq((0, Seq(0.0, 0.0)), (1, Seq(10.0, 0.0)))
        .toDF("cell_id", "centroid")
      val q = graft.streaming.CentroidDrift.centroidDriftStream(
          ms.toDF().toDF("embedding"), "embedding", cents)
        .writeStream.outputMode("update").format("memory")
        .queryName("drift_nullelem").start()
      ms.addData(
        Seq(Some(0.2), Some(0.0)),          // clean → cell 0
        Seq(Some(1.0), None),               // null element → dropped
        Seq(None, None))                    // all-null → dropped
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("drift_nullelem")
        .as[(Int, Long, Double, Double)].collect()
      assert(rows.length === 1 && rows.head._1 === 0 && rows.head._2 === 1L,
        s"only the clean vector should fold in: ${rows.mkString(",")}")
      assert(math.abs(rows.head._3 - 0.2) < 1e-9 && !rows.head._4.isNaN)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  // ------------------------------------------------ BM25 postings sidecar

  private def postingsRows(corpus: String): Set[(Long, Long, String, Long)] =
    spark.read.parquet(corpus + "/_graft_postings")
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
      .as[(Long, Long, String, Long)].collect().toSet

  private def recomputedPostings(corpus: String): Set[(Long, Long, String, Long)] =
    graft.functions.Retrieval.postingsOf(
        spark.read.parquet(corpus), "doc_id", "text")
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
      .as[(Long, Long, String, Long)].collect().toSet

  private def postingsStats(corpus: String): (Long, Long) = {
    val r = spark.read.parquet(corpus + "/_graft_postings_stats")
      .agg(sum(col("n_docs")), sum(col("sum_dl"))).head()
    (r.getLong(0), r.getLong(1))
  }

  test("postings sidecar: per-batch maintenance ≡ batch recomputation; bm25OverCorpus ≡ bm25Search; replay adds nothing") {
    implicit val ctx = spark.sqlContext
    import graft.functions.Retrieval
    val corpus = tmpDir("postings-corpus")
    val cp = tmpDir("postings-cp")
    val ms = MemoryStream[(Long, String)]
    def run(checkpoint: String = cp): Unit = {
      val q = graft.streaming.CorpusIngest.startDedupedCorpusSink(
        ms.toDF().toDF("doc_id", "text"), corpus, checkpoint, minTokens = 1,
        maintainPostings = true, postingsBuckets = 8)
      q.awaitTermination()
    }
    val queries = Seq((1, "apple"), (1, "banana"), (2, "fig")).toDF("query_id", "term")
    def overCorpus(): Set[(Int, Long, Double, Int)] =
      graft.streaming.CorpusIngest.bm25OverCorpus(spark, corpus, queries,
          "query_id", "term", k = 3)
        .as[(Int, Long, Double, Int)].collect().toSet
    def overText(): Set[(Int, Long, Double, Int)] =
      Retrieval.bm25Search(spark.read.parquet(corpus), "doc_id", "text",
          queries, "query_id", "term", k = 3)
        .as[(Int, Long, Double, Int)].collect().toSet

    ms.addData((10L, "apple banana cherry apple"), (11L, "banana date elderberry"))
    run()
    // batch 1 on a restart: one keeper, one exact dup of doc 10 (the
    // dropped dup must leave NO postings rows)
    ms.addData((20L, "cherry fig grape apple"), (21L, "apple banana cherry apple"))
    run()
    assert(ids(corpus) === Set(10L, 11L, 20L))
    assert(postingsRows(corpus).nonEmpty, "sidecar empty after two maintained batches")
    assert(postingsRows(corpus) === recomputedPostings(corpus),
      "maintained sidecar diverges from batch recomputation over stored text")
    // stats reproduce bm25CorpusStats arithmetic: N and Σdl over keepers
    val stats = Retrieval.bm25CorpusStats(spark.read.parquet(corpus), "text")
    val (n, sumDl) = postingsStats(corpus)
    assert(n === stats.n && sumDl.toDouble / n.toDouble === stats.avgdl)
    // the scaladoc contract: sidecar search ≡ text search, score for score
    val oc = overCorpus()
    assert(oc === overText(), "bm25OverCorpus diverges from bm25Search over corpus text")
    assert(oc.nonEmpty && oc.exists(_._1 == 2), "fixture degenerate: no rankings")

    // replay: batch 0's data under a FRESH checkpoint (sink committed,
    // checkpoint lost) — all dups, so corpus AND sidecar byte-stable
    val before = postingsRows(corpus)
    val ms2 = MemoryStream[(Long, String)]
    ms2.addData((10L, "apple banana cherry apple"), (11L, "banana date elderberry"))
    val q2 = graft.streaming.CorpusIngest.startDedupedCorpusSink(
      ms2.toDF().toDF("doc_id", "text"), corpus, tmpDir("postings-cp2"),
      minTokens = 1, maintainPostings = true, postingsBuckets = 8)
    q2.awaitTermination()
    assert(postingsRows(corpus) === before, "replay changed the sidecar")
    assert(overCorpus() === overText())

    // bucket-count mismatch refused loudly, not silently re-bucketed
    val ms3 = MemoryStream[(Long, String)]
    val e = intercept[IllegalArgumentException] {
      graft.streaming.CorpusIngest.startDedupedCorpusSink(
        ms3.toDF().toDF("doc_id", "text"), corpus, tmpDir("postings-cp3"),
        minTokens = 1, maintainPostings = true, postingsBuckets = 16)
    }
    assert(e.getMessage.contains("buckets=8"))
  }

  test("postings sidecar adoption: an unindexed corpus backfills via buildPostingsIndex, then stays maintained") {
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("postings-adopt")
    val ms = MemoryStream[(Long, String)]
    ms.addData((10L, "kiwi lemon mango"), (11L, "mango nectarine orange"))
    val q = graft.streaming.CorpusIngest.startDedupedCorpusSink(
      ms.toDF().toDF("doc_id", "text"), corpus, tmpDir("adopt-cp1"), minTokens = 1)
    q.awaitTermination()

    // adopt: one-time batch backfill from stored text, no stream needed
    graft.streaming.CorpusIngest.buildPostingsIndex(spark, corpus, buckets = 8)
    assert(postingsRows(corpus) === recomputedPostings(corpus),
      "adoption backfill diverges from recomputation")
    assert(postingsStats(corpus)._1 === 2L)

    // and a LATER maintaining start keeps it in step (its own new batch
    // rides the per-batch path; the adopted batches stay put)
    val ms2 = MemoryStream[(Long, String)]
    ms2.addData((20L, "papaya quince raspberry"))
    val q2 = graft.streaming.CorpusIngest.startDedupedCorpusSink(
      ms2.toDF().toDF("doc_id", "text"), corpus, tmpDir("adopt-cp2"),
      minTokens = 1, maintainPostings = true, postingsBuckets = 8)
    q2.awaitTermination()
    assert(ids(corpus) === Set(10L, 11L, 20L))
    assert(postingsRows(corpus) === recomputedPostings(corpus))
    assert(postingsStats(corpus)._1 === 3L)

    // the round-9 guard still holds: maintainPostings=false on an
    // indexed corpus is refused (silent staleness foot-gun)
    val ms3 = MemoryStream[(Long, String)]
    intercept[IllegalArgumentException] {
      graft.streaming.CorpusIngest.startDedupedCorpusSink(
        ms3.toDF().toDF("doc_id", "text"), corpus, tmpDir("adopt-cp3"),
        minTokens = 1)
    }
  }

  test("compactCorpus keeps the postings sidecar in step: no removed doc scored, stats track the compacted corpus") {
    import graft.functions.TextAnalysis
    val corpus = tmpDir("compact-postings")
    def part(rows: Seq[(Long, String)], epoch: Long, batch: Long): Unit =
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"),
          TextAnalysis.fingerprint(col("text")).as("content_hash"),
          lit(epoch).as("epoch"), lit(batch).as("batch_id"))
        .write.mode("append").partitionBy("epoch", "batch_id").parquet(corpus)

    // the concurrent-writer end state: epoch 1 re-admitted two docs of
    // epoch 0; "zebra" appears ONLY in removed docs — after compaction
    // it must resolve to the surviving keeper, never a deleted id
    val dA = "unique zebra walrus yak duplicated alpha"
    val dB = "quokka xerus vole duplicated bravo"
    part(Seq((10L, dA), (11L, "clean epoch zero llama ibex")), 0L, 0L)
    part(Seq((20L, dA), (21L, dB)), 1L, 0L) // fully-loser partition
    part(Seq((5L, dB), (22L, "clean epoch one gecko heron")), 1L, 1L)
    graft.streaming.CorpusIngest.buildPostingsIndex(spark, corpus, buckets = 4)
    assert(postingsRows(corpus) === recomputedPostings(corpus))

    val removed = graft.streaming.CorpusIngest.compactCorpus(spark, corpus)
    assert(removed === 2L)
    // sidecar ≡ recomputation over the COMPACTED corpus: removed docs
    // gone, keepers intact, fully-loser partition swept from the sidecar
    assert(postingsRows(corpus) === recomputedPostings(corpus),
      "compaction left the sidecar stale")
    val (n, _) = postingsStats(corpus)
    assert(n === spark.read.parquet(corpus).count(),
      "stats N diverges from the compacted corpus")
    assert(!new java.io.File(corpus, "_graft_postings_stats/epoch=1/batch_id=0").exists(),
      "fully-loser partition's stats row survived compaction")
    // the advertised workflow: search after compaction returns only
    // surviving doc_ids (round 9 scored doc 20 here, with inflated N)
    val got = graft.streaming.CorpusIngest.bm25OverCorpus(spark, corpus,
        Seq((1, "zebra"), (2, "quokka")).toDF("query_id", "term"),
        "query_id", "term", k = 5)
      .as[(Int, Long, Double, Int)].collect()
    assert(got.map(_._2).toSet.subsetOf(Set(10L, 11L, 5L, 22L)),
      s"bm25OverCorpus scored a compacted-away doc: ${got.toSeq}")
    assert(got.filter(_._1 == 1).map(_._2).toSet === Set(10L))
    assert(got.filter(_._1 == 2).map(_._2).toSet === Set(5L))
    // idempotent, sidecar included
    val after = postingsRows(corpus)
    assert(graft.streaming.CorpusIngest.compactCorpus(spark, corpus) === 0L)
    assert(postingsRows(corpus) === after)
  }

  test("postings reconcile sweeps orphans: a corpus batch dropped out-of-band disappears from the sidecar") {
    import graft.functions.TextAnalysis
    val corpus = tmpDir("postings-orphan")
    def part(rows: Seq[(Long, String)], epoch: Long, batch: Long): Unit =
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"),
          TextAnalysis.fingerprint(col("text")).as("content_hash"),
          lit(epoch).as("epoch"), lit(batch).as("batch_id"))
        .write.mode("append").partitionBy("epoch", "batch_id").parquet(corpus)
    part(Seq((1L, "apple pie crust")), 0L, 0L)
    part(Seq((2L, "banana bread loaf")), 0L, 1L)
    graft.streaming.CorpusIngest.buildPostingsIndex(spark, corpus, buckets = 4)
    assert(postingsRows(corpus).map(_._1) === Set(1L, 2L))

    // out-of-band partition surgery (a retention sweep, a manual drop)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(corpus, "epoch=0/batch_id=1"))
    graft.streaming.CorpusIngest.buildPostingsIndex(spark, corpus, buckets = 4)
    assert(postingsRows(corpus).map(_._1) === Set(1L),
      "orphan postings for the dropped batch survived reconcile")
    assert(postingsStats(corpus) === ((1L, 3L)))
  }

  test("backfill crash lattice (postings + stats): marker-window and torn-write crashes heal on the next build") {
    // the round-16 restart-writer lattice, postings family: the same
    // pending-marker windows as bands/winnow/cells, exercised through
    // the postings family's ensure/reconcile (both the bucketed postings
    // and the unbucketed stats sidecar)
    import graft.functions.TextAnalysis
    val corpus = tmpDir("postings-crash")
    def part(rows: Seq[(Long, String)], epoch: Long, batch: Long): Unit =
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"),
          TextAnalysis.fingerprint(col("text")).as("content_hash"),
          lit(epoch).as("epoch"), lit(batch).as("batch_id"))
        .write.mode("append").partitionBy("epoch", "batch_id").parquet(corpus)
    part(Seq((1L, "apple pie crust")), 0L, 0L)
    part(Seq((2L, "banana bread loaf"), (3L, "cherry tart shell")), 0L, 1L)
    def build(): Unit =
      graft.streaming.CorpusIngest.buildPostingsIndex(spark, corpus, buckets = 4)
    build()
    val ctlRows = postingsRows(corpus)
    val ctlStats = postingsStats(corpus)
    assert(ctlRows.map(_._1) === Set(1L, 2L, 3L) && ctlStats._1 === 3L)
    val marker = new java.io.File(corpus, "_graft_postings/_backfill_pending")

    // marked window: missing batch detected, marker durable, nothing written
    deleteFamilyBatch(corpus, "postings", 0L, 1L)
    graft.streaming.CorpusIngest.FaultInjection.arm("backfill-postings-marked")
    val e1 = intercept[RuntimeException] { build() }
    assert(e1.getMessage.contains("planted fault"), e1.getMessage)
    assert(marker.exists())
    build()
    assert(!marker.exists() && postingsRows(corpus) === ctlRows &&
      postingsStats(corpus) === ctlStats)

    // written window + a tear: one bucket's backfilled leaf dropped
    // post-crash — pre-marker this passed the existence diff forever
    deleteFamilyBatch(corpus, "postings", 0L, 1L)
    graft.streaming.CorpusIngest.FaultInjection.arm("backfill-postings-written")
    val e2 = intercept[RuntimeException] { build() }
    assert(e2.getMessage.contains("planted fault"), e2.getMessage)
    assert(marker.exists())
    val bkt = Option(new java.io.File(corpus, "_graft_postings").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("bkt=") &&
        new java.io.File(f, "epoch=0/batch_id=1").exists())
      .minBy(_.getName)
    rmRfDir(new java.io.File(bkt, "epoch=0/batch_id=1"))
    build()
    assert(!marker.exists() && postingsRows(corpus) === ctlRows &&
      postingsStats(corpus) === ctlStats)

    // the unbucketed STATS sidecar has its own marker discipline
    val statsMarker = new java.io.File(corpus, "_graft_postings_stats/_backfill_pending")
    rmRfDir(new java.io.File(corpus, "_graft_postings_stats/epoch=0/batch_id=1"))
    graft.streaming.CorpusIngest.FaultInjection.arm("backfill-postings-stats-marked")
    val e3 = intercept[RuntimeException] { build() }
    assert(e3.getMessage.contains("planted fault"), e3.getMessage)
    assert(statsMarker.exists())
    build()
    assert(!statsMarker.exists() && postingsStats(corpus) === ctlStats)

    // the stats table's written window: rows backfilled, marker not cleared
    rmRfDir(new java.io.File(corpus, "_graft_postings_stats/epoch=0/batch_id=1"))
    graft.streaming.CorpusIngest.FaultInjection.arm("backfill-postings-stats-written")
    val e4 = intercept[RuntimeException] { build() }
    assert(e4.getMessage.contains("planted fault"), e4.getMessage)
    assert(statsMarker.exists())
    build()
    assert(!statsMarker.exists() && postingsStats(corpus) === ctlStats)

    // adoption window: the whole sidecar vanishes, the rebuild crashes
    // with the complete index staged in .tmp — never renamed in
    rmRfDir(new java.io.File(corpus, "_graft_postings"))
    graft.streaming.CorpusIngest.FaultInjection.arm("adopt-postings-before-rename")
    val e5 = intercept[RuntimeException] { build() }
    assert(e5.getMessage.contains("planted fault"), e5.getMessage)
    assert(!new java.io.File(corpus, "_graft_postings").exists(),
      "fixture: a crashed adoption must never have renamed a live sidecar in")
    build()
    assert(postingsRows(corpus) === ctlRows && postingsStats(corpus) === ctlStats)
    assert(!new java.io.File(corpus, "_graft_postings.tmp").exists(),
      "healed adoption must leave no .tmp stage behind")
  }

  test("bm25OverCorpus probe is term-bucket-pruned and plans zero corpus-text reads") {
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("postings-prune")
    val cp = tmpDir("postings-prune-cp")
    // assign words to buckets the way the sidecar will (xxhash64 mod 8)
    val words = (0 until 200).map(i => s"wrd$i")
    val bktOf = words.toDF("term")
      .select(col("term"), pmod(xxhash64(col("term")), lit(8L)).cast("int").as("b"))
      .as[(String, Int)].collect().toMap
    val qw = words.head
    val others = words.filter(w => bktOf(w) != bktOf(qw))
    assert(others.size >= 100, "fixture degenerate: hash put everything in one bucket")

    val ms = MemoryStream[(Long, String)]
    def run(): Unit = {
      val q = graft.streaming.CorpusIngest.startDedupedCorpusSink(
        ms.toDF().toDF("doc_id", "text"), corpus, cp, minTokens = 1,
        maintainPostings = true, postingsBuckets = 8)
      q.awaitTermination()
    }
    ms.addData((10L, s"$qw ${others.take(5).mkString(" ")}"))
    run()

    val queries = Seq((1, qw)).toDF("query_id", "term")
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val events = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        events.incrementAndGet()
        if (e.taskMetrics != null) bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
    }
    def drained(): Unit = {
      var prev = -1L; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val now = events.get()
        if (now == prev) stable += 1 else { stable = 0; prev = now }
      }
    }
    def measuredProbe(): (Long, Set[Long]) = {
      // bm25OverCorpus runs its stats+bucket jobs EAGERLY at call time;
      // everything measured after this line is the postings probe itself
      val res = graft.streaming.CorpusIngest.bm25OverCorpus(spark, corpus,
        queries, "query_id", "term", k = 5)
      // structural zero-tokenization proof: the plan's only file source
      // is the sidecar — no corpus data file is even a candidate input
      assert(res.inputFiles.nonEmpty &&
        res.inputFiles.forall(_.contains("_graft_postings")),
        s"probe plan reads outside the sidecar: ${res.inputFiles.toSeq}")
      bytesRead.set(0)
      spark.sparkContext.addSparkListener(listener)
      val out = try { res.as[(Int, Long, Double, Int)].collect() }
        finally { drained(); spark.sparkContext.removeSparkListener(listener) }
      (bytesRead.get(), out.map(_._2).toSet)
    }

    val (b1, hits1) = measuredProbe()
    assert(hits1 === Set(10L))
    assert(b1 > 0L)

    // grow the corpus ONLY in other buckets (3 batches, restarts)
    others.drop(5).take(30).grouped(10).zipWithIndex.foreach { case (ws, i) =>
      ms.addData((100L + i, ws.mkString(" ")))
      run()
    }
    val (b2, hits2) = measuredProbe()
    assert(hits2 === Set(10L))
    assert(b2 === b1,
      s"probe bytes grew with corpus growth in OTHER term buckets ($b1 → $b2) — bucket pruning is broken")
  }

  test("compactNearDupCorpus: concurrent-writer near-dups removed cluster-deterministically, band index in step") {
    import graft.functions.Dedup
    val corpus = tmpDir("compact-nd")
    def mkDoc(stem: String): String = (0 until 60).map(i => s"$stem$i").mkString(" ")
    val tA = mkDoc("alpha")
    // near-dup of tA: LSH band match expected (verified by the fixture
    // assert below); distinct doc text so compactCorpus's exact rule
    // would NOT catch it
    val tA2 = tA + " trailing extra"
    def part(rows: Seq[(Long, String)], epoch: Long, batch: Long): Unit =
      Dedup.lshSignature(rows.toDF("doc_id", "text"), "text", 16, 4, 3)
        .withColumn("epoch", lit(epoch)).withColumn("batch_id", lit(batch))
        .write.mode("append").partitionBy("epoch", "batch_id").parquet(corpus)
    part(Seq((10L, tA), (11L, mkDoc("bravo"))), 0L, 0L)
    part(Seq((20L, tA2)), 1L, 0L)                 // fully-loser partition
    part(Seq((21L, mkDoc("charlie"))), 1L, 1L)    // clean
    // fixture sanity: the pair really band-matches
    val sig = Dedup.lshSignature(Seq((0L, tA), (1L, tA2)).toDF("doc_id", "text"),
      "text", 16, 4, 3)
    val bandSets = Dedup.bandsLong(sig, 4, Seq("doc_id"))
      .as[(Long, Int, String)].collect().groupBy(_._1)
      .view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    assert(bandSets(0L).intersect(bandSets(1L)).nonEmpty,
      "fixture degenerate: near-dup pair shares no band")

    graft.streaming.CorpusIngest.buildBandIndex(spark, corpus)
    val removed = graft.streaming.CorpusIngest.compactNearDupCorpus(spark, corpus)
    assert(removed === 1L, s"expected the one cross-epoch near-dup, got $removed")
    assert(ids(corpus) === Set(10L, 11L, 21L))
    assert(!new java.io.File(corpus, "epoch=1/batch_id=0").exists(),
      "fully-loser partition left behind")
    // band index ≡ recomputation from the compacted corpus
    def idxRows(): Set[(Int, String, Long, Long)] =
      spark.read.parquet(corpus + "/_graft_bands")
        .select(col("band"), col("bh"), col("epoch").cast("long"),
          col("batch_id").cast("long"))
        .as[(Int, String, Long, Long)].collect().toSet
    val recomputed = Dedup.bandsLong(
        spark.read.parquet(corpus)
          .withColumn("epoch", col("epoch").cast("long"))
          .withColumn("batch_id", col("batch_id").cast("long")),
        4, Seq("epoch", "batch_id"))
      .select(col("band"), col("bh"), col("epoch"), col("batch_id"))
      .as[(Int, String, Long, Long)].collect().toSet
    assert(idxRows() === recomputed, "compaction left the band index stale")
    // the index still drops a fresh near-dup of the KEEPER
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    ms.addData((30L, tA + " another tail"))
    val q = graft.streaming.CorpusIngest.startNearDupCorpusSink(
      ms.toDF().toDF("doc_id", "text"), corpus, tmpDir("compact-nd-cp"))
    q.awaitTermination()
    assert(ids(corpus) === Set(10L, 11L, 21L), "keeper's bands lost — near-dup re-admitted")
    // idempotent
    assert(graft.streaming.CorpusIngest.compactNearDupCorpus(spark, corpus) === 0L)
  }

  // ---- compaction crash lattice: every window of the shared
  // loser-removal tail (removeAndReindex), proven per boundary
  // like the sink writes'. Design claim under test: while the corpus
  // still holds the losers, a re-run re-derives the identical loser
  // set (candidates come from stored TEXT, never from the index), so
  // a crash after the index sweep, after the index append, or after
  // the corpus rewrite all heal by compacting again. The fixture
  // plants one loser in a FULLY-loser partition (the rewrite never
  // touches it — only the final delete does) and one in a MIXED
  // partition (the rewrite heals it), so both partition shapes cross
  // every window.
  private def compactCrashBuild(corpus: String): Unit = {
    import graft.functions.Dedup
    def mkDoc(stem: String): String = (0 until 60).map(i => s"$stem$i").mkString(" ")
    val tA = mkDoc("alpha")
    def part(rows: Seq[(Long, String)], epoch: Long, batch: Long): Unit =
      Dedup.lshSignature(rows.toDF("doc_id", "text"), "text", 16, 4, 3)
        .withColumn("epoch", lit(epoch)).withColumn("batch_id", lit(batch))
        .write.mode("append").partitionBy("epoch", "batch_id").parquet(corpus)
    part(Seq((10L, tA), (11L, mkDoc("bravo"))), 0L, 0L)
    part(Seq((20L, tA + " trailing extra")), 1L, 0L)      // fully-loser partition
    part(Seq((22L, tA + " other trailing"), (23L, mkDoc("delta"))), 2L, 0L) // mixed
    graft.streaming.CorpusIngest.buildBandIndex(spark, corpus)
  }
  private def compactCrashState(corpus: String): (Set[Long], Set[String], Set[(Int, String, Long, Long)]) = {
    val docs = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    import scala.jdk.CollectionConverters._
    val parts = java.nio.file.Files.walk(java.nio.file.Paths.get(corpus))
      .iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p))
      .map(p => java.nio.file.Paths.get(corpus).relativize(p).toString)
      .filter(s => s.nonEmpty && !s.startsWith("_graft")).toSet
    val idx = spark.read.parquet(corpus + "/_graft_bands")
      .select(col("band"), col("bh"), col("epoch").cast("long"),
        col("batch_id").cast("long"))
      .as[(Int, String, Long, Long)].collect().toSet
    (docs, parts, idx)
  }
  private lazy val compactCrashControl: (Set[Long], Set[String], Set[(Int, String, Long, Long)]) = {
    val cb = tmpDir("cc-ctl")
    compactCrashBuild(cb)
    assert(graft.streaming.CorpusIngest.compactNearDupCorpus(spark, cb) === 2L)
    compactCrashState(cb)
  }

  for (point <- Seq("compaction-after-index-sweep",
      "compaction-after-index-append", "compaction-after-corpus-rewrite"))
    test(s"compactNearDupCorpus: planted crash at $point — a re-run heals corpus and index to the no-fault state") {
      val ca = tmpDir("cc-crash")
      compactCrashBuild(ca)
      graft.streaming.CorpusIngest.FaultInjection.arm(point)
      val e = intercept[RuntimeException] {
        graft.streaming.CorpusIngest.compactNearDupCorpus(spark, ca)
      }
      assert(e.getMessage.contains("planted fault"), e.getMessage)
      // re-run, unarmed: heals whatever the window left torn. The
      // removed count varies by window (after-corpus-rewrite already
      // removed the mixed partition's loser), so assert the healed
      // STATE, not the count.
      graft.streaming.CorpusIngest.compactNearDupCorpus(spark, ca)
      val a = compactCrashState(ca)
      assert(a._1 === compactCrashControl._1, "healed doc set diverges from control")
      assert(a._2 === compactCrashControl._2, "healed partition tree diverges from control")
      assert(a._3 === compactCrashControl._3, "healed band index diverges from control")
      // and stays a fixed point
      assert(graft.streaming.CorpusIngest.compactNearDupCorpus(spark, ca) === 0L)
    }

  test("compactSemanticCorpus: same-cell over-threshold cross-epoch pairs removed, cell index in step") {
    val corpus = tmpDir("compact-sem")
    val centroids = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
      .toDF("cell_id", "centroid")
    def part(rows: Seq[(Long, String, Seq[Double], Int)], epoch: Long, batch: Long): Unit =
      rows.toDF("doc_id", "text", "embedding", "cell")
        .withColumn("epoch", lit(epoch)).withColumn("batch_id", lit(batch))
        .write.mode("append").partitionBy("epoch", "batch_id").parquet(corpus)
    // cell 0: docs 10 and 20 cosine ≈ 0.9998 (cross-epoch semantic dup);
    // doc 11 orthogonal-ish in cell 1; doc 21 same cell 0 but dissimilar
    // enough (cos(10,21) ≈ 0.71 < 0.9)
    part(Seq((10L, "ten", Seq(1.0, 0.02), 0), (11L, "eleven", Seq(0.05, 1.0), 1)), 0L, 0L)
    part(Seq((20L, "twenty", Seq(1.0, 0.04), 0), (21L, "twentyone", Seq(1.0, 1.0), 0)), 1L, 0L)
    graft.streaming.CorpusIngest.buildCellIndex(spark, corpus, centroids)
    val removed = graft.streaming.CorpusIngest.compactSemanticCorpus(
      spark, corpus, threshold = 0.9)
    assert(removed === 1L, s"expected only the over-threshold pair's loser, got $removed")
    assert(ids(corpus) === Set(10L, 11L, 21L))
    // cell index ≡ recomputation over the compacted corpus
    def cellRows(): Set[(Long, Int, Long, Long)] =
      spark.read.parquet(corpus + "/_graft_cells")
        .select(col("doc_id"), col("cell").cast("int"),
          col("epoch").cast("long"), col("batch_id").cast("long"))
        .as[(Long, Int, Long, Long)].collect().toSet
    assert(cellRows() === Set((10L, 0, 0L, 0L), (11L, 1, 0L, 0L), (21L, 0, 1L, 0L)),
      "compaction left the cell index stale")
    // idempotent; and a tighter threshold on a second pass removes 21
    assert(graft.streaming.CorpusIngest.compactSemanticCorpus(
      spark, corpus, threshold = 0.9) === 0L)
    assert(graft.streaming.CorpusIngest.compactSemanticCorpus(
      spark, corpus, threshold = 0.7) === 1L)
    assert(ids(corpus) === Set(10L, 11L))
  }

  test("band/cell reconcile sweeps orphans: an out-of-band partition drop disappears from the probe indexes") {
    import graft.functions.Dedup
    val corpus = tmpDir("band-orphan")
    def mkDoc(stem: String): String = (0 until 60).map(i => s"$stem$i").mkString(" ")
    def part(rows: Seq[(Long, String)], epoch: Long, batch: Long): Unit =
      Dedup.lshSignature(rows.toDF("doc_id", "text"), "text", 16, 4, 3)
        .withColumn("epoch", lit(epoch)).withColumn("batch_id", lit(batch))
        .write.mode("append").partitionBy("epoch", "batch_id").parquet(corpus)
    part(Seq((1L, mkDoc("delta"))), 0L, 0L)
    part(Seq((2L, mkDoc("echo"))), 0L, 1L)
    graft.streaming.CorpusIngest.buildBandIndex(spark, corpus)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(corpus, "epoch=0/batch_id=1"))
    graft.streaming.CorpusIngest.buildBandIndex(spark, corpus)
    val pairs = spark.read.parquet(corpus + "/_graft_bands")
      .select(col("epoch").cast("long"), col("batch_id").cast("long"))
      .distinct().as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 0L)),
      s"orphan band rows survived reconcile: $pairs — a future near-dup of the deleted doc would be falsely dropped")
  }

  test("annOverCorpus ≡ Ivf.search over the stored corpus, across ingest and compaction; drift refused") {
    implicit val ctx = spark.sqlContext
    import graft.functions.Similarity
    val corpus = tmpDir("ann-corpus")
    val cp = tmpDir("ann-cp")
    val cents = Seq((0, Seq(1.0, 0.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0, 0.0)),
        (2, Seq(0.0, 0.0, 1.0, 0.0)))
      .toDF("cell_id", "centroid")
    // no sidecar yet → loud refusal, naming the builder
    val none = intercept[IllegalArgumentException] {
      graft.streaming.CorpusIngest.annOverCorpus(spark, corpus,
        Seq((1L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("doc_id", "embedding"),
        "doc_id", "embedding", cents, k = 2, nProbe = 1)
    }
    assert(none.getMessage.contains("buildCellIndex"))

    val ms = MemoryStream[(Long, String, Seq[Float])]
    def run(): Unit = {
      val q = graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
        ms.toDF().toDF("doc_id", "text", "embedding"), corpus, cp,
        cents, threshold = 0.95)
      q.processAllAvailable(); q.stop()
    }
    // two batches spreading docs over all three cells, mutually below
    // the dedup threshold so every doc is kept
    ms.addData(
      (10L, "a", Seq(1.0f, 0.1f, 0f, 0f)),
      (11L, "b", Seq(0f, 1.0f, 0.1f, 0f)),
      (12L, "c", Seq(0f, 0.1f, 1.0f, 0f)))
    run()
    ms.addData(
      (20L, "d", Seq(0.9f, 0.4f, 0f, 0f)),
      (21L, "e", Seq(0f, 0.9f, 0.4f, 0f)))
    run()
    assert(ids(corpus) === Set(10L, 11L, 12L, 20L, 21L))

    val queries = Seq(
      (10L, Seq(1.0, 0.05, 0.0, 0.0)),  // corpus id: self-exclusion live
      (900L, Seq(0.0, 0.7, 0.7, 0.0))) // straddles cells 1 and 2
      .toDF("doc_id", "embedding")
    def viaSidecar(): Set[(Long, Long, Double, Int)] =
      graft.streaming.CorpusIngest.annOverCorpus(spark, corpus, queries,
          "doc_id", "embedding", cents, k = 3, nProbe = 2)
        .as[(Long, Long, Double, Int)].collect().toSet
    def viaScan(): Set[(Long, Long, Double, Int)] =
      Similarity.Ivf.search(queries, spark.read.parquet(corpus),
          "doc_id", "embedding", cents, k = 3, nProbe = 2)
        .as[(Long, Long, Double, Int)].collect().toSet
    val s1 = viaSidecar()
    assert(s1 === viaScan(), "sidecar search diverges from Ivf.search over the corpus")
    assert(s1.nonEmpty && !s1.exists { case (q, n, _, _) => q == n },
      "self-exclusion lost through the sidecar")

    // compaction keeps the answer ≡ recomputation (cell index in step)
    ms.addData((30L, "near dup of a", Seq(1.0f, 0.12f, 0f, 0f)))
    run() // threshold 0.95: cos(10,30) ≈ 0.9998 → dropped at ingest...
    assert(ids(corpus) === Set(10L, 11L, 12L, 20L, 21L))
    assert(graft.streaming.CorpusIngest.compactSemanticCorpus(
      spark, corpus, threshold = 0.85) >= 1L) // ...but 0.85 sweeps 20 vs 10
    assert(viaSidecar() === viaScan(),
      "sidecar search diverges from recomputation after compaction")

    val drifted = Seq((0, Seq(0.5, 0.5, 0.0, 0.0)), (1, Seq(0.0, 0.0, 1.0, 0.0)))
      .toDF("cell_id", "centroid")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.CorpusIngest.annOverCorpus(spark, corpus, queries,
        "doc_id", "embedding", drifted, k = 3, nProbe = 2)
    }
    assert(e.getMessage.contains("centroids"))
  }

  test("annOverCorpus probe is cell-pruned and plans zero corpus reads") {
    val corpus = tmpDir("ann-prune")
    val cents = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
      .toDF("cell_id", "centroid")
    def part(rows: Seq[(Long, String, Seq[Double], Int)], epoch: Long, batch: Long): Unit =
      rows.toDF("doc_id", "text", "embedding", "cell")
        .withColumn("epoch", lit(epoch)).withColumn("batch_id", lit(batch))
        .write.mode("append").partitionBy("epoch", "batch_id").parquet(corpus)
    part(Seq((1L, "one", Seq(1.0, 0.1), 0), (2L, "two", Seq(0.1, 1.0), 1)), 0L, 0L)
    graft.streaming.CorpusIngest.buildCellIndex(spark, corpus, cents)

    val queries = Seq((100L, Seq(1.0, 0.0))).toDF("doc_id", "embedding")
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val events = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        events.incrementAndGet()
        if (e.taskMetrics != null) bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
    }
    def drained(): Unit = {
      var prev = -1L; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val now = events.get()
        if (now == prev) stable += 1 else { stable = 0; prev = now }
      }
    }
    def measuredProbe(): (Long, Set[Long]) = {
      // annOverCorpus runs its probe-cell collect EAGERLY at call time;
      // everything measured after this line is the sidecar probe itself
      val res = graft.streaming.CorpusIngest.annOverCorpus(spark, corpus,
        queries, "doc_id", "embedding", cents, k = 5, nProbe = 1)
      // structural zero-re-embedding proof: the plan's only file source
      // is the sidecar — no corpus data file is even a candidate input
      assert(res.inputFiles.nonEmpty &&
        res.inputFiles.forall(_.contains("_graft_cells")),
        s"probe plan reads outside the sidecar: ${res.inputFiles.toSeq}")
      bytesRead.set(0)
      spark.sparkContext.addSparkListener(listener)
      val out = try { res.as[(Long, Long, Double, Int)].collect() }
        finally { drained(); spark.sparkContext.removeSparkListener(listener) }
      (bytesRead.get(), out.map(_._2).toSet)
    }
    val (b1, hits1) = measuredProbe()
    assert(hits1 === Set(1L))
    assert(b1 > 0L)

    // grow the corpus ONLY in cell 1 — 3000 more vectors the cell-0
    // probe must never touch (batch layout, so sidecar bytes are exact:
    // no streaming metadata reads to tolerate)
    val fill = (0 until 3000).map(i =>
      (1000L + i, s"filler $i", Seq(0.001 * i, 1.0), 1))
    fill.grouped(1000).zipWithIndex.foreach { case (rows, i) =>
      part(rows.toSeq, 0L, 10L + i)
    }
    graft.streaming.CorpusIngest.buildCellIndex(spark, corpus, cents) // reconcile backfill
    val (b2, hits2) = measuredProbe()
    assert(hits2 === Set(1L))
    assert(b2 === b1,
      s"probe bytes grew with corpus growth in the OTHER cell ($b1 → $b2) — cell pruning is broken")
  }

  test("hybridOverCorpus fuses the two sidecar legs ≡ inline recomputation, zero corpus passes") {
    import graft.functions.{Retrieval, Similarity, TextAnalysis}
    val corpus = tmpDir("hybrid-corpus")
    val cents = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
      .toDF("cell_id", "centroid")
    // six docs carrying BOTH retrieval columns, spread over both cells;
    // text overlaps chosen so the sparse and dense legs rank differently
    val rows = Seq(
      (1L, "apple pie with apple filling", Seq(1.0, 0.1)),
      (2L, "banana bread and butter", Seq(0.9, 0.3)),
      (3L, "apple and banana salad", Seq(0.2, 1.0)),
      (4L, "plain rye bread", Seq(0.1, 0.9)),
      (5L, "apple cider press", Seq(0.8, 0.6)),
      (6L, "butter and salt", Seq(0.6, 0.8)))
    Similarity.Ivf.assign(
        rows.toDF("doc_id", "text", "embedding"), "embedding", cents, out = "cell")
      .select(col("doc_id"), col("text"),
        TextAnalysis.fingerprint(col("text")).as("content_hash"),
        col("embedding"), col("cell").cast("int").as("cell"),
        lit(0L).as("epoch"), lit(0L).as("batch_id"))
      .write.mode("overwrite").partitionBy("epoch", "batch_id").parquet(corpus)
    graft.streaming.CorpusIngest.buildPostingsIndex(spark, corpus, buckets = 4)
    graft.streaming.CorpusIngest.buildCellIndex(spark, corpus, cents)

    // external query-id space (901/902): ids never collide with docs, so
    // Ivf.search (self-excluding) is a valid inline mirror of the
    // non-self-excluding dense leg
    val termQ = Seq((901, "apple"), (901, "banana"), (902, "bread"), (902, "butter"))
      .toDF("query_id", "term")
    val vecQ = Seq((901, Seq(1.0, 0.2)), (902, Seq(0.3, 1.0)))
      .toDF("query_id", "qv")
    val hybrid = graft.streaming.CorpusIngest.hybridOverCorpus(spark, corpus,
      termQ, "term", vecQ, "qv", "query_id", cents, k = 4, nProbe = 1,
      kPerLeg = 3)
    assert(hybrid.inputFiles.nonEmpty && hybrid.inputFiles.forall(f =>
        f.contains("_graft_postings") || f.contains("_graft_cells")),
      s"hybrid plan reads outside the sidecars: ${hybrid.inputFiles.toSeq}")

    val stored = spark.read.parquet(corpus)
    val sparseInline = Retrieval.bm25Search(stored, "doc_id", "text",
        termQ, "query_id", "term", k = 3)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val denseInline = Similarity.Ivf.search(
        vecQ.toDF("doc_id", "embedding"),
        stored.select(col("doc_id"), col("embedding")),
        "doc_id", "embedding", cents, k = 3, nProbe = 1)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    val expected = Retrieval.rrfFuse(Seq(sparseInline, denseInline), k = 4)
    assert(hybrid.as[(Int, Long, Double, Int)].collect().toSet ===
      expected.as[(Int, Long, Double, Int)].collect().toSet,
      "hybrid sidecar fusion diverges from inline recomputation")
  }

  test("epoch claims refuse object-store filesystems unless the external-arbiter conf attests") {
    class FakeS3Fs extends org.apache.hadoop.fs.RawLocalFileSystem {
      override def getScheme: String = "s3a"
    }
    val e = intercept[IllegalArgumentException] {
      graft.streaming.CorpusIngest.requireAtomicClaims(new FakeS3Fs, allowOverride = false)
    }
    assert(e.getMessage.contains("allowNonAtomicClaims"),
      "refusal must name the escape-hatch conf")
    // attested external arbiter → allowed
    graft.streaming.CorpusIngest.requireAtomicClaims(new FakeS3Fs, allowOverride = true)
    // local FS (O_EXCL-atomic) → allowed without attestation
    val local = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    graft.streaming.CorpusIngest.requireAtomicClaims(local, allowOverride = false)
  }

  test("quality-drift monitor: a keep-rate collapse fires exactly one edge-triggered alert; recovery re-arms") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[(String, Boolean)]
      val q = graft.streaming.QualityDrift.keepRateStream(
          ms.toDF().toDF("source", "keep"), "source", "keep",
          tol = 0.3, minBatch = 5L)
        .writeStream.outputMode("update").format("memory")
        .queryName("qdrift").start()
      def feed(keeps: Int, drops: Int): Unit = {
        ms.addData(Seq.fill(keeps)(("web", true)) ++ Seq.fill(drops)(("web", false)): _*)
        q.processAllAvailable()
      }
      feed(9, 1)   // baseline forms at 0.9 — no alert possible yet
      feed(1, 9)   // collapse to 0.1 < 0.9 − 0.3 → ALERT
      feed(0, 2)   // sub-minBatch trickle mid-incident: must NOT clear the latch
      feed(0, 10)  // still bad — latched, must NOT re-alert
      feed(10, 0)  // recovery above threshold — latch clears
      feed(0, 10)  // second collapse → second ALERT
      q.stop()
      val rows = spark.table("qdrift")
        .as[(String, Long, Long, Double, Double, Boolean)].collect()
      assert(rows.count(_._6) === 2, rows.mkString("\n"))
      val b1 = rows.find(r => r._2 === 10L && r._3 === 9L)
      assert(b1.exists(_._4 === 0.9), rows.mkString("\n"))
      // running rate after all 52 docs: 20/52 (6-dp rounded)
      assert(rows.map(_._5).contains(0.384615), rows.mkString("\n"))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("quality-drift monitor tolerates null-text docs: the null scores as a drop, the query survives") {
    // keepNarrow(null) is a NULL boolean and the keyed tuple encoder's
    // Boolean is non-nullable — without keepRateStream's coalesce one
    // null-text doc killed the monitor (the TokenDrift null-text fix,
    // applied to the keep-rate axis)
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val good = (0 until 50).map(i => if (i % 5 == 4) "the" else s"word$i").mkString(" ")
      val ms = MemoryStream[(String, String)]
      val q = graft.streaming.QualityDrift.qualityDriftStream(
          ms.toDF().toDF("source", "text"), "source", "text", tol = 0.5)
        .writeStream.outputMode("update").format("memory")
        .queryName("qdrift_null").start()
      ms.addData(("web", good), ("web", null), ("web", good))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("qdrift_null")
        .as[(String, Long, Long, Double, Double, Boolean)].collect()
      // 3 docs seen, 2 keeps: the null-text doc counted as a DROP
      assert(rows.exists(r => r._2 === 3L && r._3 === 2L), rows.mkString("\n"))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("token-drift monitor: a distribution shift fires one edge-triggered alert; same-distribution batches stay quiet; recovery re-arms") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // reference: a diverse vocabulary; in-distribution batches sample
      // the same tokens, the shifted batch collapses onto ONE token
      // (template takeover — keep-rates wouldn't flinch, KL must)
      val vocab = (0 until 200).map(i => s"tok$i")
      val refDocs = (0 until 50).map(d =>
        Tuple1((0 until 40).map(j => vocab((d * 7 + j) % 200)).mkString(" ")))
        .toDF("text")
      val ref = graft.streaming.TokenDrift.referenceHistogram(
        refDocs, "text", buckets = 256)
      assert(ref.sum === 2000L, "reference histogram must count every token")

      val ms = MemoryStream[(String, String)]
      val q = graft.streaming.TokenDrift.tokenDriftStream(
          ms.toDF().toDF("source", "text"), "source", "text",
          ref, klThreshold = 1.0, minTokens = 50L)
        .writeStream.outputMode("update").format("memory")
        .queryName("tdrift").start()
      def inDist(seed: Int): String =
        (0 until 60).map(j => vocab((seed * 13 + j * 3) % 200)).mkString(" ")
      def feed(texts: String*): Unit = {
        ms.addData(texts.map(t => ("web", t)): _*)
        q.processAllAvailable()
      }
      feed(inDist(1), inDist(2))                       // in-dist → quiet
      feed(Seq.fill(120)("spam").mkString(" "))        // collapse → ALERT
      feed(Seq.fill(120)("spam").mkString(" "))        // still bad → latched
      feed("tiny spam")                                // sub-minTokens: no re-arm
      // a NULL-text doc contributes an empty histogram instead of a
      // null bucket array (which NPE'd inside KlProcessor and killed
      // the query — the sibling monitors drop nulls via explode)
      feed(null, inDist(3), inDist(4))                 // recovery → re-arm
      feed(Seq.fill(120)("eggs").mkString(" "))        // second shift → ALERT
      q.stop()
      val rows = spark.table("tdrift")
        .as[graft.streaming.TokenDrift.DriftReport].collect()
      assert(rows.count(_.alert) === 2, rows.mkString("\n"))
      // in-distribution batches sit well under the threshold; the
      // collapsed batches well over it
      val quiet = rows.filter(r => r.batch_tokens === 120L && !r.alert && r.kl < 1.0)
      assert(quiet.nonEmpty, rows.mkString("\n"))
      assert(rows.filter(_.alert).forall(_.kl > 1.0), rows.mkString("\n"))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("fertility-drift monitor: unseen-domain words fire one edge-triggered alert; trained-domain batches stay quiet; recovery re-arms") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // train merges on a small corpus; its own words re-segment to few
      // pieces (low fertility), foreign words fall back to chars
      val trainDocs = (Seq.fill(6)("lower lowest lowly") ++
        Seq.fill(6)("newest newer newly")).toDF("text")
      val merges = graft.functions.Bpe.train(trainDocs, "text", numMerges = 12)
        .select("lhs", "rhs").as[(String, String)].collect().toSeq
      val baseline = graft.functions.Bpe.encodeFertility(
          trainDocs.withColumn("doc_id", monotonically_increasing_id()),
          "doc_id", "text", merges)
        .agg(sum(col("n_pieces")).cast("double") / sum(col("n_words")))
        .as[Double].head()
      assert(baseline < 4.0, s"trained-domain baseline should be low: $baseline")

      val ms = MemoryStream[(String, String)]
      val q = graft.streaming.FertilityDrift.fertilityDriftStream(
          ms.toDF().toDF("source", "text"), "source", "text",
          merges, baseline, tolFrac = 0.5, minWords = 30L)
        .writeStream.outputMode("update").format("memory")
        .queryName("fdrift").start()
      val inDomain = Seq.fill(12)("lower newest lowly").mkString(" ")   // 36 words
      val foreign = Seq.fill(12)("zqxjkwv mbfgpzd qzzjxkw").mkString(" ") // char-fallback
      def feed(texts: String*): Unit = {
        ms.addData(texts.map(t => ("web", t)): _*)
        q.processAllAvailable()
      }
      feed(inDomain)                    // trained domain → quiet
      feed(foreign)                     // fertility spike → ALERT
      feed(foreign)                     // still drifted → latched
      feed("zq mb")                     // sub-minWords trickle: no re-arm
      feed(null, inDomain)              // null-safe; recovery → re-arm
      feed(foreign)                     // second spike → ALERT
      q.stop()
      val rows = spark.table("fdrift")
        .as[graft.streaming.FertilityDrift.FertilityReport].collect()
      assert(rows.count(_.alert) === 2, rows.mkString("\n"))
      val quiet = rows.filter(r => !r.alert && r.batch_words >= 30L)
      assert(quiet.exists(_.fertility <= baseline * 1.5), rows.mkString("\n"))
      assert(rows.filter(_.alert).forall(_.fertility > baseline * 1.5),
        rows.mkString("\n"))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("fertility-drift monitor, unigram twin: same edge-trigger/latch/re-arm walk under a frozen qd69-style model") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // train a unigram model on a small corpus; its own words segment
      // into few pieces, foreign words hit the char-fallback
      val trainDocs = (Seq.fill(6)("lower lowest lowly") ++
        Seq.fill(6)("newest newer newly")).toDF("text")
      val vocab = graft.functions.UnigramLm.trainVocab(
        trainDocs, "text", maxPieceLen = 4, topM = 30, iters = 2)
      val baseline = graft.functions.UnigramLm.fertility(
          trainDocs.withColumn("doc_id", monotonically_increasing_id()),
          "doc_id", "text", vocab)
        .agg(sum(col("n_pieces")).cast("double") / sum(col("n_words")))
        .as[Double].head()
      assert(baseline < 4.0, s"trained-domain baseline should be low: $baseline")

      val ms = MemoryStream[(String, String)]
      val q = graft.streaming.FertilityDrift.unigramFertilityDriftStream(
          ms.toDF().toDF("source", "text"), "source", "text",
          vocab, baseline, tolFrac = 0.5, minWords = 30L)
        .writeStream.outputMode("update").format("memory")
        .queryName("fdrift_uni").start()
      val inDomain = Seq.fill(12)("lower newest lowly").mkString(" ")
      val foreign = Seq.fill(12)("zqxjkwv mbfgpzd qzzjxkw").mkString(" ")
      def feed(texts: String*): Unit = {
        ms.addData(texts.map(t => ("web", t)): _*)
        q.processAllAvailable()
      }
      feed(inDomain)       // trained domain → quiet
      feed(foreign)        // char-fallback fertility spike → ALERT
      feed(foreign)        // still drifted → latched
      feed("zq mb")        // sub-minWords trickle: no re-arm
      feed(null, inDomain) // null-safe; recovery → re-arm
      feed(foreign)        // second spike → ALERT
      q.stop()
      val rows = spark.table("fdrift_uni")
        .as[graft.streaming.FertilityDrift.FertilityReport].collect()
      assert(rows.count(_.alert) === 2, rows.mkString("\n"))
      val quiet = rows.filter(r => !r.alert && r.batch_words >= 30L)
      assert(quiet.exists(_.fertility <= baseline * 1.5), rows.mkString("\n"))
      assert(rows.filter(_.alert).forall(_.fertility > baseline * 1.5),
        rows.mkString("\n"))
      // the trained-domain batch (36 words) reported and stayed quiet
      assert(rows.exists(r => !r.alert && r.batch_words === 36L))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("score-drift monitor: low-quality flood fires one edge-triggered alert under frozen qd79 weights; recovery re-arms") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // train the classifier on a separable fixture, freeze the weights
      val goodText = "good solid prose here and more words"
      val badText = "junk junk junk spam spam"
      val trainDocs = (0 until 20).map { i =>
        if (i % 2 == 0) (i.toLong, goodText) else (i.toLong, badText)
      }.toDF("doc_id", "text")
      val labels = (0 until 20).map(i => (i.toLong, i % 2 == 0)).toDF("doc_id", "keep")
      val w = graft.functions.Classifier.trainHashedLogistic(trainDocs,
        "doc_id", "text", labels, "keep", dim = 32, iters = 12, lr = 5.0)
      // baseline = training-time mean score over the KEPT slice
      val baseline = graft.functions.Classifier.scoreHashedLogistic(
          trainDocs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          w, 32, new java.math.BigDecimal("0.500000"))
        .agg(avg(col("score").cast("double"))).as[Double].head()
      val tol = 0.05
      // precondition making the walk deterministic: the bad slice's mean
      // really sits below the alert threshold
      val badMean = graft.functions.Classifier.scoreHashedLogistic(
          trainDocs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          w, 32, new java.math.BigDecimal("0.500000"))
        .agg(avg(col("score").cast("double"))).as[Double].head()
      assert(badMean < baseline * (1.0 - tol),
        s"fixture must separate: bad $badMean vs baseline $baseline")

      val ms = MemoryStream[(String, String)]
      val q = graft.streaming.ScoreDrift.scoreDriftStream(
          ms.toDF().toDF("source", "text"), "source", "text",
          w, 32, baseline, tolFrac = tol, minDocs = 5L)
        .writeStream.outputMode("update").format("memory")
        .queryName("sdrift").start()
      def feed(texts: String*): Unit = {
        ms.addData(texts.map(t => ("web", t)): _*)
        q.processAllAvailable()
      }
      feed(Seq.fill(6)(goodText): _*)   // in-distribution → quiet
      feed(Seq.fill(6)(badText): _*)    // score sag → ALERT
      feed(Seq.fill(6)(badText): _*)    // still drifted → latched
      feed(badText)                     // sub-minDocs trickle: no re-arm
      feed(Seq(null, goodText, goodText, goodText, goodText, goodText): _*) // null-safe recovery → re-arm
      feed(Seq.fill(6)(badText): _*)    // second sag → ALERT
      q.stop()
      val rows = spark.table("sdrift")
        .as[graft.streaming.ScoreDrift.ScoreReport].collect()
      assert(rows.count(_.alert) === 2, rows.mkString("\n"))
      val quiet = rows.filter(r => !r.alert && r.batch_docs >= 5L)
      assert(quiet.exists(_.mean_score >= baseline * (1.0 - tol)), rows.mkString("\n"))
      assert(rows.filter(_.alert).forall(_.mean_score < baseline * (1.0 - tol)),
        rows.mkString("\n"))
      // sags report the LOW direction (the two-sided monitor's label)
      assert(rows.filter(_.alert).forall(_.direction == "low"), rows.mkString("\n"))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("score-drift is two-sided: quality inflation fires HIGH, a low↔high flip re-fires without recovery") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val goodText = "good solid prose here and more words"
      val badText = "junk junk junk spam spam"
      val trainDocs = (0 until 20).map { i =>
        if (i % 2 == 0) (i.toLong, goodText) else (i.toLong, badText)
      }.toDF("doc_id", "text")
      val labels = (0 until 20).map(i => (i.toLong, i % 2 == 0)).toDF("doc_id", "keep")
      val w = graft.functions.Classifier.trainHashedLogistic(trainDocs,
        "doc_id", "text", labels, "keep", dim = 32, iters = 12, lr = 5.0)
      def sliceMean(even: Boolean): Double =
        graft.functions.Classifier.scoreHashedLogistic(
            trainDocs.filter(col("doc_id") % 2 === (if (even) 0 else 1)),
            "doc_id", "text", w, 32, new java.math.BigDecimal("0.500000"))
          .agg(avg(col("score").cast("double"))).as[Double].head()
      val (goodMean, badMean) = (sliceMean(true), sliceMean(false))
      // baseline = the MIXTURE mean the filter was calibrated on; a
      // pure-good flood (quality inflation) sits above the high band,
      // a pure-bad flood below the low band
      val baseline = (goodMean + badMean) / 2.0
      val tol = 0.05
      assert(goodMean > baseline * (1.0 + tol) && badMean < baseline * (1.0 - tol),
        s"fixture must straddle the band: $badMean / $baseline / $goodMean")

      val ms = MemoryStream[(String, String)]
      val q = graft.streaming.ScoreDrift.scoreDriftStream(
          ms.toDF().toDF("source", "text"), "source", "text",
          w, 32, baseline, tolFrac = tol, minDocs = 5L)
        .writeStream.outputMode("update").format("memory")
        .queryName("sdrift2").start()
      def feed(texts: String*): Unit = {
        ms.addData(texts.map(t => ("web", t)): _*)
        q.processAllAvailable()
      }
      val mixed = Seq(goodText, badText, goodText, badText, goodText, badText)
      feed(mixed: _*)                   // calibration mixture → quiet
      feed(Seq.fill(6)(goodText): _*)   // inflation → ALERT high
      feed(Seq.fill(6)(goodText): _*)   // still inflated → latched
      feed(Seq.fill(6)(badText): _*)    // direction FLIP → ALERT low (no recovery between)
      feed(mixed: _*)                   // back in band → re-arm
      feed(Seq.fill(6)(goodText): _*)   // second inflation → ALERT high
      q.stop()
      val rows = spark.table("sdrift2")
        .as[graft.streaming.ScoreDrift.ScoreReport].collect()
      assert(rows.filter(_.alert).map(_.direction).toSeq == Seq("high", "low", "high"),
        rows.mkString("\n"))
      // latched batches carry the direction without re-firing
      assert(rows.count(r => r.direction == "high") === 3, rows.mkString("\n"))
      assert(rows.filter(r => r.direction.isEmpty && r.batch_docs >= 5L)
        .forall(!_.alert), rows.mkString("\n"))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("calibration-drift monitor: label flips push batch ECE over the gate even with the mean score in band") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val goodText = "good solid prose here and more words"
      val badText = "junk junk junk spam spam"
      val trainDocs = (0 until 20).map { i =>
        if (i % 2 == 0) (i.toLong, goodText) else (i.toLong, badText)
      }.toDF("doc_id", "text")
      val labels = (0 until 20).map(i => (i.toLong, i % 2 == 0)).toDF("doc_id", "keep")
      val w = graft.functions.Classifier.trainHashedLogistic(trainDocs,
        "doc_id", "text", labels, "keep", dim = 32, iters = 12, lr = 5.0)

      val ms = MemoryStream[(String, String, Boolean)]
      val q = graft.streaming.ScoreDrift.calibrationDriftStream(
          ms.toDF().toDF("source", "text", "keep"), "source", "text", "keep",
          w, 32, eceMax = 0.3, nBins = 10, minDocs = 5L)
        .writeStream.outputMode("update").format("memory")
        .queryName("cdrift").start()
      def feed(rows: (String, Boolean)*): Unit = {
        ms.addData(rows.map { case (t, y) => ("web", t, y) }: _*)
        q.processAllAvailable()
      }
      val agree = Seq(goodText -> true, badText -> false,
        goodText -> true, badText -> false, goodText -> true, badText -> false)
      // the mixture with FLIPPED labels keeps the mean score identical —
      // only the score→label mapping breaks (what the mean monitor
      // cannot see)
      val flipped = agree.map { case (t, y) => (t, !y) }
      feed(agree: _*)    // well-calibrated → quiet
      feed(flipped: _*)  // ECE ≈ 1 at in-band mean → ALERT
      feed(flipped: _*)  // still broken → latched
      feed(flipped.head) // sub-minDocs trickle: no re-arm
      feed(agree: _*)    // recovery → re-arm
      feed(flipped: _*)  // second break → ALERT
      q.stop()
      val rows = spark.table("cdrift")
        .as[graft.streaming.ScoreDrift.CalibReport].collect()
      assert(rows.count(_.alert) === 2, rows.mkString("\n"))
      assert(rows.filter(_.alert).forall(_.ece > 0.3), rows.mkString("\n"))
      assert(rows.filter(r => r.batch_docs >= 5L && r.ece <= 0.3)
        .forall(!_.alert), rows.mkString("\n"))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("production loop closed: persisted model + sized threshold gate the curation sink") {
    implicit val ctx = spark.sqlContext
    import graft.functions.Classifier
    import graft.ops.ModelStore
    // 1. TRAIN on the separable fixture
    val goodText = curText("loopx")
    val badText = Seq.fill(45)("junk junk spam").mkString(" ")
    val trainDocs = (0 until 20).map { i =>
      if (i % 2 == 0) (i.toLong, goodText) else (i.toLong, badText)
    }.toDF("doc_id", "text")
    val labels = (0 until 20).map(i => (i.toLong, i % 2 == 0)).toDF("doc_id", "keep")
    val w = Classifier.trainHashedLogistic(trainDocs, "doc_id", "text",
      labels, "keep", dim = 32, iters = 12, lr = 5.0)
    // 2. PERSIST and reload — the artifact the deployment serves under
    val tbl = s"clf_loop_models_${System.nanoTime()}"
    val v = ModelStore.save(spark, "gate", w, tbl)
    val loaded = ModelStore.load(spark, "gate", Some(v), tbl)
    // 3. SIZE the operating point on the SERVING scorer's own scores
    // (narrowScore — sizing on the scores the deployed path produces,
    // so the chosen τ is exactly achievable at serve time), precision
    // floor 1.0: chosen = the lowest perfect-precision threshold
    val scored = trainDocs
      .select(col("doc_id"),
        Classifier.narrowScore(col("text"), loaded, 32).as("score"))
      .join(labels, "doc_id")
    val tau = Classifier.chosenThreshold(
      Classifier.sizeThreshold(scored, "score", "keep",
        new java.math.BigDecimal("1.0000")))
    // 4. SERVE: the sink gated by the loaded model at the chosen τ
    val corpus = tmpDir("loop-corpus")
    val cents = curCents.toDF("cell_id", "centroid")
    val ms = MemoryStream[(Long, String, Seq[Double])]
    ms.addData(
      (1L, goodText, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, badText, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, goodText.split(" ").reverse.mkString(" "), Seq(0.0, 0.0, 1.0, 0.0)))
    graft.streaming.CorpusIngest.startCurationSink(
        ms.toDF().toDF("doc_id", "text", "embedding"), corpus,
        tmpDir("loop-cp"), cents,
        qualityGate = t => Classifier.narrowScore(t, loaded, 32) >=
          lit(tau).cast(org.apache.spark.sql.types.DecimalType(8, 6)))
      .awaitTermination()
    val kept = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L),
      s"loop gate must keep good prose and drop junk: $kept")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("curation sink gates on a TRAINED classifier: narrowScore as qualityGate keeps good prose, drops junk") {
    implicit val ctx = spark.sqlContext
    // train on the separable fixture; freeze weights into the gate
    val goodText = curText("golf")
    val badText = Seq.fill(45)("junk junk spam").mkString(" ")
    val trainDocs = (0 until 20).map { i =>
      if (i % 2 == 0) (i.toLong, goodText) else (i.toLong, badText)
    }.toDF("doc_id", "text")
    val labels = (0 until 20).map(i => (i.toLong, i % 2 == 0)).toDF("doc_id", "keep")
    val w = graft.functions.Classifier.trainHashedLogistic(trainDocs,
      "doc_id", "text", labels, "keep", dim = 32, iters = 12, lr = 5.0)
    // threshold between the two fixture score levels
    val scores = graft.functions.Classifier.scoreHashedLogistic(trainDocs,
        "doc_id", "text", w, 32, new java.math.BigDecimal("0.500000"))
      .select(col("doc_id"), col("score").cast("double"))
      .as[(Long, Double)].collect().toMap
    val thr = (scores(0L) + scores(1L)) / 2.0
    val corpus = tmpDir("clf-gate-corpus")
    val cents = curCents.toDF("cell_id", "centroid")
    val ms = MemoryStream[(Long, String, Seq[Double])]
    ms.addData(
      (1L, goodText, Seq(1.0, 0.0, 0.0, 0.0)),             // passes the model gate
      (2L, badText, Seq(0.0, 1.0, 0.0, 0.0)),              // model-dropped
      // same bag-of-words as goodText (identical model score) but
      // reversed order: not an exact/near/quote dup — only the gate
      // decision is under test
      (3L, goodText.split(" ").reverse.mkString(" "), Seq(0.0, 0.0, 1.0, 0.0)))
    graft.streaming.CorpusIngest.startCurationSink(
        ms.toDF().toDF("doc_id", "text", "embedding"), corpus,
        tmpDir("clf-gate-cp"), cents,
        qualityGate = t => graft.functions.Classifier.narrowScore(t, w, 32) >=
          lit(new java.math.BigDecimal(thr.toString)).cast(
            org.apache.spark.sql.types.DecimalType(8, 6)))
      .awaitTermination()
    val kept = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L),
      s"model gate must drop the junk doc and keep good prose: $kept")
  }

  // ---- streaming capstone: the composed curation sink -------------------

  /** Quality-passing synthetic text: 50 tokens, every 5th a stopword
    * (keepNarrow needs ≥ 30 tokens, avg token length in [3,10],
    * stopword ratio ≥ 0.02).
    */
  private def curText(stem: String): String =
    (0 until 50).map(i => if (i % 5 == 4) "the" else s"$stem$i").mkString(" ")

  private val curCents = Seq(
    (0, Seq(1.0, 0.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0, 0.0)),
    (2, Seq(0.0, 0.0, 1.0, 0.0)), (3, Seq(0.0, 0.0, 0.0, 1.0)))

  test("curation sink: quality→exact→band→winnow→cell composed — each planted dup caught by its own stage across batches") {
    implicit val ctx = spark.sqlContext
    import graft.functions.Dedup
    val corpus = tmpDir("cur-corpus")
    val cents = curCents.toDF("cell_id", "centroid")
    val tA = curText("alpha"); val tB = curText("bravo"); val tC = curText("charlie")
    // the planted batch-1 classes, each catchable ONLY by its own stage
    // (cross-checked deterministically below):
    val nearText = tB + " extra tail words here"          // band-catchable, not exact
    val quoteText =                                        // winnow-catchable, not bands
      (0 until 14).map(i => if (i % 5 == 4) "the" else s"ctx$i").mkString(" ") +
        " " + tC.split(" ").slice(10, 24).mkString(" ") + " " +
        (0 until 14).map(i => if (i % 5 == 4) "and" else s"out$i").mkString(" ")
    val semText = curText("echo")                          // textually fresh
    val junkText = Seq.fill(40)("aa").mkString(" ")        // avg token len 2 → quality-fail

    val ms = MemoryStream[(Long, String, Seq[Double])]
    def run(cp: String,
        stream: MemoryStream[(Long, String, Seq[Double])] = ms): Unit =
      graft.streaming.CorpusIngest.startCurationSink(
        stream.toDF().toDF("doc_id", "text", "embedding"), corpus, cp, cents)
        .awaitTermination()
    def ids(): Set[Long] =
      spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet

    val cp1 = tmpDir("cur-cp")
    ms.addData(
      (1L, tA, Seq(1.0, 0.0, 0.0, 0.0)),   // cell 0
      (2L, tB, Seq(0.0, 1.0, 0.0, 0.0)),   // cell 1
      (3L, tC, Seq(0.0, 0.0, 1.0, 0.0)))   // cell 2
    run(cp1)
    assert(ids() === Set(1L, 2L, 3L))

    // batch 1: every planted doc's embedding targets EMPTY cell 3 (or a
    // low-cosine cell), so a doc its stage MISSES would LAND — the final
    // corpus set attributes every drop to exactly one stage
    ms.addData(
      (10L, tA, Seq(0.6, 0.0, 0.8, 0.0)),            // EXACT dup of 1 (stage 2)
      (11L, nearText, Seq(0.0, 0.0, 0.6, 0.8)),      // NEAR dup of 2 (stage 3)
      (12L, quoteText, Seq(0.0, 0.6, 0.0, 0.8)),     // QUOTE of 3 (stage 4)
      (13L, semText, Seq(0.995, 0.0995, 0.0, 0.0)),  // SEMANTIC dup of 1 (stage 5)
      (14L, junkText, Seq(0.0, 0.0, 0.6, 0.8)),      // junk (stage 1)
      (15L, curText("foxtrot"), Seq(0.0, 0.0, 0.0, 1.0)))  // fresh → lands
    // this batch runs with StageClock on: the set of labels curationBatch
    // ACTUALLY bills must equal the declared BilledStages constant the
    // bench stage-floors key against — a label rename that kept the
    // constant stale would make its floor silently unfireable (its
    // reading would read 0.0 forever). Checked against a REAL run, not
    // a second hardcoded copy (ADVICE r15).
    val sc = graft.streaming.CorpusIngest.StageClock
    sc.reset(); sc.enabled.set(true)
    try run(cp1) finally sc.enabled.set(false)
    // "start" is the sink-START attribution label (restart-overhead
    // visibility, round 17) — billed in stage_sec but deliberately
    // un-floored, so it rides alongside BilledStages here
    assert(sc.secondsByStage.keySet ===
      graft.streaming.CorpusIngest.BilledStages + "start",
      "curationBatch billed a different stage set than BilledStages declares")
    sc.reset()
    assert(ids() === Set(1L, 2L, 3L, 15L))

    // stage attribution, cross-checked deterministically in batch mode:
    val fixture = Seq((1L, tA), (2L, tB), (3L, tC), (11L, nearText),
      (12L, quoteText), (13L, semText)).toDF("doc_id", "text")
    val bandsOf = Dedup.withLshBands(Dedup.withMinHash(fixture, "text", 16, 3), 16, 4)
      .select(col("doc_id"), array((0 until 4).map(b => col(s"band$b")): _*).as("bs"))
      .as[(Long, Seq[String])].collect().toMap
    def bandHit(a: Long, b: Long): Boolean =
      bandsOf(a).zip(bandsOf(b)).exists(p => p._1 == p._2)
    val fpsOf = Dedup.winnowFingerprints(fixture, "doc_id", "text", 3, 4)
      .select(col("doc_id"), col("fp_hash")).distinct()
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // near dup: band-catchable against 2, NOT an exact copy
    assert(bandHit(11L, 2L), "fixture: nearText must share an LSH band with tB")
    assert(nearText !== tB)
    // quote: NOT band-catchable against any stored doc, but shares
    // ≥ minShared winnow fingerprints with tC (the 14-token run)
    assert(Seq(1L, 2L, 3L).forall(b => !bandHit(12L, b)),
      "fixture: quoteText must not be catchable by the band stage")
    assert(fpsOf(12L).intersect(fpsOf(3L)).size >= 2,
      "fixture: quoteText must share >= 2 winnow fingerprints with tC")
    // semantic dup: textually uncatchable by bands AND winnow; only the
    // cell probe (cosine 0.995 vs doc 1) can drop it
    assert(Seq(1L, 2L, 3L).forall(b => !bandHit(13L, b)))
    assert(Seq(1L, 2L, 3L).forall(b => fpsOf(13L).intersect(fpsOf(b)).size < 2))

    // every index holds ONLY landed docs
    assert(spark.read.parquet(new java.io.File(corpus, "_graft_winnow").toString)
      .select("doc_id").as[Long].collect().toSet.subsetOf(Set(1L, 2L, 3L, 15L)))
    assert(spark.read.parquet(new java.io.File(corpus, "_graft_cells").toString)
      .select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 3L, 15L))

    // lost checkpoint: a fresh query re-sending stored texts bootstraps
    // the seen-set from the corpus and writes nothing
    val before = spark.read.parquet(corpus)
      .select("doc_id", "text", "cell").as[(Long, String, Int)].collect().toSet
    val ms2 = MemoryStream[(Long, String, Seq[Double])]
    ms2.addData((21L, tA, Seq(1.0, 0.0, 0.0, 0.0)),
      (22L, tB, Seq(0.0, 1.0, 0.0, 0.0)))
    run(tmpDir("cur-cp2"), ms2)
    val after = spark.read.parquet(corpus)
      .select("doc_id", "text", "cell").as[(Long, String, Int)].collect().toSet
    assert(after === before, "lost-checkpoint replay changed the corpus")
  }

  test("curation sink compiles stably: a replay of docs unlike the warm-up's hits the codegen cache") {
    // Whole-stage classes named by plan position (GeneratedIterator-
    // ForCodegenStage<N>) recompile whenever a batch's data shifts the
    // stage ids (other probe and anti-join row counts, other batch
    // sizes), so a replay of DIFFERENT docs than the warm-up recompiled
    // most fragments. The sinks start with stage-id-free class names.
    // The JVM-wide compile counter over the second replay pins it; run
    // alone, that replay compiled 260-262 classes with stage ids in the
    // names and 36 without. Needs SparkSpec's deployment codegen confs
    // (1000-entry cache, no artifact isolation).
    implicit val ctx = spark.sqlContext
    import org.apache.spark.metrics.source.CodegenMetrics
    val cents = curCents.toDF("cell_id", "centroid")
    def replay(batches: Seq[Seq[(Long, String, Seq[Double])]]): Long = {
      val (corpus, cp) = (tmpDir("stable-corpus"), tmpDir("stable-cp"))
      val ms = MemoryStream[(Long, String, Seq[Double])]
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      batches.foreach { b =>
        ms.addData(b)
        graft.streaming.CorpusIngest.startCurationSink(
          ms.toDF().toDF("doc_id", "text", "embedding"), corpus, cp, cents)
          .awaitTermination()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    def e(c: Int): Seq[Double] = Seq.tabulate(4)(i => if (i == c) 1.0 else 0.0)
    val warm = replay(Seq(
      Seq((1L, curText("kilo"), e(0)), (2L, curText("lima"), e(1))),
      Seq((3L, curText("mike"), e(2)))))
    val replayed = replay(Seq(
      (0L until 20L).map(i => (i, curText(s"big${i}x"), e(i.toInt % 4))),
      (20L until 40L).map(i => (i, curText(s"big${i}y"), e(i.toInt % 4)))))
    assert(replayed <= 60L,
      s"a replay of new docs recompiled $replayed classes (warm-up compiled $warm)")
  }

  test("corpus sink starts leave the caller's codegen and provider confs as they were") {
    implicit val ctx = spark.sqlContext
    val idKey = "spark.sql.codegen.useIdInClassName"
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    def explicit(): (Option[String], Option[String]) =
      (spark.conf.getAll.get(idKey), spark.conf.getAll.get(provKey))
    assert(explicit() === ((None, None)), "fixture: confs unexpectedly set")
    def start(): Unit = {
      val ms = MemoryStream[(Long, String)]
      ms.addData((1L, curText("sierra")))
      graft.streaming.CorpusIngest.startDedupedCorpusSink(
        ms.toDF().toDF("doc_id", "text"), tmpDir("hyg-corpus"), tmpDir("hyg-cp"))
        .awaitTermination()
    }
    def refused(): Unit = {
      val err = intercept[IllegalStateException](start())
      assert(err.getMessage.contains("explicitly"))
    }
    try {
      // unset stays unset, after a successful and after a refused start
      start()
      assert(explicit() === ((None, None)))
      spark.conf.set(provKey, hdfs)
      refused()
      assert(explicit() === ((None, Some(hdfs))))
      // an explicit user value survives both
      spark.conf.set(idKey, "true")
      refused()
      assert(explicit() === ((Some("true"), Some(hdfs))))
      spark.conf.unset(provKey)
      start()
      assert(explicit() === ((Some("true"), None)))
      // the non-RocksDB sinks restore the same way
      val ms = MemoryStream[(Long, String)]
      ms.addData((1L, curText("tango")))
      graft.streaming.CorpusIngest.startNearDupCorpusSink(
        ms.toDF().toDF("doc_id", "text"), tmpDir("hyg-nd-corpus"), tmpDir("hyg-nd-cp"))
        .awaitTermination()
      assert(explicit() === ((Some("true"), None)))
    } finally {
      spark.conf.unset(idKey)
      spark.conf.unset(provKey)
    }
  }

  /** What one [[graft.streaming.CorpusIngest.curationBatch]] call runs on
    * the pruning fixture's probe batch (see the test below): its actions
    * (SQL executions: 4 local checkpoints, 3 driver collects, 4 writes)
    * and at most this many Spark jobs. The job count is not exact: AQE
    * submits each shuffle stage as its own job, and whether the final
    * cut's plan submits one more stage depends on which of its stages
    * finish first — repeated probes on one build read 39–40 before the
    * corpus grows and 40–41 after.
    */
  private val CurationBatchActions = 11L
  private val CurationBatchMaxJobs = 41L

  test("curation sink composed probes are bucket/cell-pruned: probe bytes do NOT grow with corpus elsewhere") {
    // The per-family pruning proofs, applied to the COMPOSED per-batch
    // body (curationBatch — exactly the sink's foreachBatch): probe a
    // semantic dup (it traverses all three probes and lands nowhere),
    // grow the corpus only in band-prefix/winnow-prefix/cell buckets the
    // probe never touches, probe again — byte-identical reads. The probe
    // runs the batch body DIRECTLY (batch mode) so streaming-state
    // restore bytes can't pollute the measurement.
    implicit val ctx = spark.sqlContext
    import graft.functions.{Dedup, Similarity, TextAnalysis}
    val corpus = tmpDir("curbkt-corpus")
    val cp = tmpDir("curbkt-cp")
    val cents = curCents.toDF("cell_id", "centroid")
    val cm = Similarity.Ivf.centroidMatrix(cents)
    val tA = curText("alpha")
    val probeText = curText("probe")

    val ms = MemoryStream[(Long, String, Seq[Double])]
    def ingest(): Unit =
      graft.streaming.CorpusIngest.startCurationSink(
        ms.toDF().toDF("doc_id", "text", "embedding"), corpus, cp, cents,
        winnowPrefixLen = 2)
        .awaitTermination()
    ms.addData((1L, tA, Seq(1.0, 0.0, 0.0, 0.0)))  // cell 0
    ingest()

    // deterministic filler search: band prefixes AND winnow prefixes
    // disjoint from the probe's (cells are disjoint by construction:
    // fillers live in cell 3, the probe in cell 0)
    val cands = ((-1L, probeText) +:
      (0 until 300).map(i => (i.toLong, curText(s"fill${i}x")))).toDF("doc_id", "text")
    val bandPfxOf = Dedup.withLshBands(Dedup.withMinHash(cands, "text", 16, 3), 16, 4)
      .select(col("doc_id"),
        array((0 until 4).map(b => substring(col(s"band$b"), 1, 1)): _*).as("p"))
      .as[(Long, Seq[String])].collect().toMap.view.mapValues(_.toSet).toMap
    val winPfxOf = Dedup.winnowFingerprints(cands, "doc_id", "text", 3, 4)
      .select(col("doc_id"), substring(col("fp_hash"), 1, 2).as("p")).distinct()
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val fillers = (0 until 300).filter { i =>
      bandPfxOf(i.toLong).intersect(bandPfxOf(-1L)).isEmpty &&
        winPfxOf(i.toLong).intersect(winPfxOf(-1L)).isEmpty
    }.take(4)
    assert(fillers.size === 4,
      s"test fixture: need 4 doubly-disjoint fillers, found ${fillers.size}")
    // cell-3 embeddings, pairwise cosine ≤ 0.64 (no within-batch drops)
    val fillEmb = Seq(Seq(0.6, 0.0, 0.0, 0.8), Seq(0.0, 0.6, 0.0, 0.8),
      Seq(-0.6, 0.0, 0.0, 0.8), Seq(0.0, -0.6, 0.0, 0.8))

    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val events = new java.util.concurrent.atomic.AtomicLong
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val actions = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        events.incrementAndGet()
        if (e.taskMetrics != null) bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        events.incrementAndGet()
        jobs.incrementAndGet()
      }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            events.incrementAndGet()
            actions.incrementAndGet()
          case _ => ()
        }
    }
    def drained(): Unit = {
      var prev = -1L
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val now = events.get()
        if (now == prev) stable += 1 else { stable = 0; prev = now }
      }
    }
    def probeFrame(id: Long) = Seq((id, probeText, Seq(0.995, 0.0995, 0.0, 0.0)))
      .toDF("doc_id", "text", "embedding")
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .withColumn("content_hash", TextAnalysis.fingerprint(col("text")))
    def measuredProbe(id: Long, batchId: Long): Long = {
      bytesRead.set(0)
      jobs.set(0)
      actions.set(0)
      spark.sparkContext.addSparkListener(listener)
      try {
        graft.streaming.CorpusIngest.curationBatch(
          probeFrame(id), batchId, corpus, epoch = 77L,
          foreignHashes = None, benchGrams = None, benchGramN = 8,
          k = 16, bands = 4, shingleN = 3, bandPrefixLen = 1,
          winnowK = 3, winnowW = 4, minShared = 2, maxDf = 50,
          winnowPrefixLen = 2, cm = cm, semThreshold = 0.9, metric = "cosine")
        drained()
      } finally spark.sparkContext.removeSparkListener(listener)
      bytesRead.get()
    }
    def ids(): Set[Long] =
      spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet

    // the PROBE-FACING buckets: every band/winnow bucket the probe's own
    // prefixes hit, plus its cell directory — the exact directories the
    // three probes may read
    def walk(f: java.io.File): Seq[String] =
      if (!f.exists) Nil
      else if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else Seq(f.getPath + ":" + f.length)
    def probeFacingTree(): Set[String] =
      (bandPfxOf(-1L).toSeq.map(p => s"_graft_bands/pfx=$p") ++
        winPfxOf(-1L).toSeq.map(p => s"_graft_winnow/pfx=$p") ++
        Seq("_graft_cells/cell=0"))
        .flatMap(d => walk(new java.io.File(corpus, d))).toSet

    val b1 = measuredProbe(900L, 0L)
    assert(b1 > 0L, "probe read nothing — the composed probes did not run")
    // the batch body's cost in actions and jobs, pinned: a curation
    // micro-batch pays per cut, collect and write, so a change to any of
    // them (an added cut, a fused write) shows here first
    def pinnedCost(when: String): Unit = {
      assert(actions.get() === CurationBatchActions,
        s"curation batch ran ${actions.get()} actions $when, pinned $CurationBatchActions")
      assert(jobs.get() <= CurationBatchMaxJobs,
        s"curation batch ran ${jobs.get()} jobs $when, pinned at most $CurationBatchMaxJobs")
    }
    pinnedCost("on the first probe")
    assert(ids() === Set(1L), "the semantic-dup probe must not land")
    val facingBefore = probeFacingTree()
    def treeBytes(): Long = walk(new java.io.File(corpus))
      .map(_.split(":").last.toLong).sum
    val sizeBefore = treeBytes()

    fillers.zip(fillEmb).foreach { case (i, e) => ms.addData((100L + i, curText(s"fill${i}x"), e)) }
    ingest()
    assert(ids() === (Set(1L) ++ fillers.map(i => 100L + i)), "fillers must all land")

    // the growth landed ENTIRELY outside the probe-facing buckets: every
    // file the three probes can read is byte-for-byte the one probe 1
    // read (the deterministic form of the per-family byte-equality
    // proofs — exact file set, exact sizes)
    assert(probeFacingTree() === facingBefore,
      "corpus growth touched a probe-facing bucket — pruning is broken")
    val growth = treeBytes() - sizeBefore
    assert(growth >= 10000L, s"fixture degenerate: fillers only added $growth bytes")

    // and the measured probe cost stays flat: identical files read, so
    // any drift is listener jitter — bound it at ≪ the corpus growth
    val b2 = measuredProbe(901L, 1L)
    pinnedCost("after corpus growth")
    assert(math.abs(b2 - b1) <= growth / 20,
      s"composed probe bytes grew with corpus in OTHER buckets/cells ($b1 → $b2, corpus +$growth)")

    def otherDirs(idx: String, pfx: String, probeSet: Set[String]): Int =
      new java.io.File(corpus, idx).listFiles().count(f =>
        f.getName.startsWith(pfx) && !probeSet.contains(f.getName.stripPrefix(pfx)))
    assert(otherDirs("_graft_bands", "pfx=", bandPfxOf(-1L)) > 0)
    assert(otherDirs("_graft_winnow", "pfx=", winPfxOf(-1L)) > 0)
    assert(otherDirs("_graft_cells", "cell=", Set("0")) > 0)
  }

  // ---- planted-crash heal proofs, one per write boundary ----------
  // The four per-batch writes (corpus, bands, winnow, cells) are NOT
  // atomic — against the corpus OR among themselves. Design claim: an
  // uncommitted batch re-fires on restart and its dynamic overwrites
  // (plus the start-time reconcile routines) heal every family. Round
  // 14 proved the corpus-written-sidecars-not window; these four tests
  // plant a one-shot fault at EVERY boundary (including the
  // all-written-checkpoint-uncommitted window, where the re-fire must
  // be byte-idempotent) and compare every family's partition tree and
  // rows against one shared no-fault control run.
  private def crashBatch0 = Seq(
    (1L, curText("alpha"), Seq(1.0, 0.0, 0.0, 0.0)),
    (2L, curText("bravo"), Seq(0.0, 1.0, 0.0, 0.0)))
  private def crashBatch1 = Seq(
    (10L, curText("delta"), Seq(0.0, 0.0, 1.0, 0.0)),
    // near-dup of 2 → band-stage drop, so the healed state also
    // proves the replayed probe ran (not just a blind rewrite)
    (11L, curText("bravo") + " extra tail words here", Seq(0.0, 0.0, 0.6, 0.8)))
  private def crashFamilyState(corpus: String): Map[String, (Set[String], Set[String])] =
    Seq("corpus" -> corpus,
      "bands" -> new java.io.File(corpus, "_graft_bands").toString,
      "winnow" -> new java.io.File(corpus, "_graft_winnow").toString,
      "cells" -> new java.io.File(corpus, "_graft_cells").toString)
      .map { case (fam, dir) =>
        val df = spark.read.parquet(dir)
        val rows = df.select(df.columns.sorted.map(col): _*)
          .collect().map(_.toString).toSet
        import scala.jdk.CollectionConverters._
        val parts = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
          .iterator().asScala
          .filter(p => java.nio.file.Files.isDirectory(p))
          .map(p => java.nio.file.Paths.get(dir).relativize(p).toString)
          .filter(s => s.nonEmpty && !s.startsWith("_graft"))
          .toSet
        fam -> (parts, rows)
      }.toMap
  private def crashRun(corpus: String, cp: String,
      ms: MemoryStream[(Long, String, Seq[Double])]): Unit =
    graft.streaming.CorpusIngest.startCurationSink(
      ms.toDF().toDF("doc_id", "text", "embedding"),
      corpus, cp, curCents.toDF("cell_id", "centroid"))
      .awaitTermination()
  // does the family's tree hold the crashed batch's partition yet?
  private def crashFamHasBatch1(corpus: String, fam: String): Boolean =
    if (fam == "corpus") new java.io.File(corpus, "epoch=0/batch_id=1").exists()
    else {
      val kids = new java.io.File(corpus, s"_graft_$fam").listFiles()
      kids != null && kids.exists(f => f.isDirectory &&
        new java.io.File(f, "epoch=0/batch_id=1").exists())
    }
  // shared control: the same two batches, no fault (built once — the
  // expected state is identical for every boundary)
  private lazy val crashControlState: Map[String, (Set[String], Set[String])] = {
    implicit val ctx = spark.sqlContext
    val corpusB = tmpDir("cur-ctl-corpus"); val cpB = tmpDir("cur-ctl-cp")
    val msB = MemoryStream[(Long, String, Seq[Double])]
    msB.addData(crashBatch0: _*)
    crashRun(corpusB, cpB, msB)
    msB.addData(crashBatch1: _*)
    crashRun(corpusB, cpB, msB)
    crashFamilyState(corpusB)
  }
  // per boundary: (families already written at the crash, families not)
  private val crashWindows: Seq[(String, Seq[String], Seq[String])] = Seq(
    ("curation-after-corpus-write",
      Seq("corpus"), Seq("bands", "winnow", "cells")),
    ("curation-after-band-write",
      Seq("corpus", "bands"), Seq("winnow", "cells")),
    ("curation-after-winnow-write",
      Seq("corpus", "bands", "winnow"), Seq("cells")),
    ("curation-after-cells-write",
      Seq("corpus", "bands", "winnow", "cells"), Seq.empty))

  for ((point, written, notWritten) <- crashWindows)
    test(s"curation sink: planted crash at $point — restart heals all four families to the no-failure state") {
      implicit val ctx = spark.sqlContext
      // faulted run: batch 0 lands clean, batch 1 crashes mid-write
      val corpusA = tmpDir("cur-crash-corpus"); val cpA = tmpDir("cur-crash-cp")
      val msA = MemoryStream[(Long, String, Seq[Double])]
      msA.addData(crashBatch0: _*)
      crashRun(corpusA, cpA, msA)
      graft.streaming.CorpusIngest.FaultInjection.arm(point)
      msA.addData(crashBatch1: _*)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        crashRun(corpusA, cpA, msA)
      }
      assert(e.getMessage.contains("planted fault"), e.getMessage)
      // the crash window is real: exactly the families before the
      // boundary hold the crashed batch, the ones after do not
      for (fam <- written)
        assert(crashFamHasBatch1(corpusA, fam),
          s"fixture: $fam must already hold the crashed batch at $point")
      for (fam <- notWritten)
        assert(!crashFamHasBatch1(corpusA, fam),
          s"fixture: $fam must NOT yet hold the crashed batch at $point")
      // restart, unarmed: the batch re-fires and heals
      crashRun(corpusA, cpA, msA)

      val a = crashFamilyState(corpusA); val b = crashControlState
      for (fam <- Seq("corpus", "bands", "winnow", "cells")) {
        assert(a(fam)._1 === b(fam)._1,
          s"$fam partition tree diverges from the no-failure run")
        assert(a(fam)._2 === b(fam)._2,
          s"$fam rows diverge from the no-failure run")
      }
      // and the probe really ran on replay: the near-dup stayed out
      assert(spark.read.parquet(corpusA).select("doc_id").as[Long]
        .collect().toSet === Set(1L, 2L, 10L))
    }

  // ---- restart-time writer crash lattice (round-16): the ensure/
  // backfill/adoption paths run at EVERY sink start and write — the
  // round-15 write clustering reached them, proving they're load-
  // bearing, but they had no planted-fault coverage of their own.
  private def rmRfDir(dir: java.io.File): Unit = {
    import scala.jdk.CollectionConverters._
    if (dir.exists()) {
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .reverseIterator.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
  // delete a sidecar family's (epoch, batch_id) leaves across ALL its
  // bucket dirs — the double-failure state the start-time reconcile
  // exists to backfill (corpus partition present, index partition absent)
  private def deleteFamilyBatch(corpus: String, fam: String,
      epoch: Long, batch: Long): Unit = {
    val root = new java.io.File(corpus, s"_graft_$fam")
    for (b <- Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
        if b.isDirectory && b.getName.contains("=")) {
      rmRfDir(new java.io.File(b, s"epoch=$epoch/batch_id=$batch"))
    }
  }

  private val adoptionWindows: Seq[(String, String)] = Seq(
    ("bands", "adopt-bands-after-reband"),
    ("bands", "adopt-bands-before-rename"),
    ("winnow", "adopt-winnow-before-rename"),
    ("cells", "adopt-cells-before-rename"))

  for ((fam, point) <- adoptionWindows)
    test(s"adoption crash lattice: planted crash at $point — the next start rebuilds $fam to the no-fault state") {
      implicit val ctx = spark.sqlContext
      // a healthy two-batch corpus, then the family's sidecar vanishes
      // (the round-7-layout adoption scenario)
      val corpus = tmpDir("adopt-crash-corpus"); val cp = tmpDir("adopt-crash-cp")
      val ms = MemoryStream[(Long, String, Seq[Double])]
      ms.addData(crashBatch0: _*)
      crashRun(corpus, cp, ms)
      ms.addData(crashBatch1: _*)
      crashRun(corpus, cp, ms)
      rmRfDir(new java.io.File(corpus, s"_graft_$fam"))
      // crashed adoption: ensure runs at query START, so the fault
      // fires from startCurationSink itself (driver-side, pre-stream)
      graft.streaming.CorpusIngest.FaultInjection.arm(point)
      val e = intercept[RuntimeException] { crashRun(corpus, cp, ms) }
      assert(e.getMessage.contains("planted fault"), e.getMessage)
      assert(!new java.io.File(corpus, s"_graft_$fam").exists(),
        "fixture: a crashed adoption must never have renamed a live index in")
      // restart, unarmed: adoption re-runs from scratch and heals
      crashRun(corpus, cp, ms)
      val a = crashFamilyState(corpus); val b = crashControlState
      for (f <- Seq("corpus", "bands", "winnow", "cells")) {
        assert(a(f)._1 === b(f)._1, s"$f partition tree diverges after adoption heal")
        assert(a(f)._2 === b(f)._2, s"$f rows diverge after adoption heal")
      }
      assert(!new java.io.File(corpus, s"_graft_$fam.tmp").exists(),
        "healed adoption must leave no .tmp stage behind")
    }

  private val backfillFamilies = Seq("bands", "winnow", "cells")

  for (fam <- backfillFamilies)
    test(s"backfill crash lattice ($fam): marker-window crash, then a TORN write, both heal to the no-fault state") {
      implicit val ctx = spark.sqlContext
      val corpus = tmpDir("bf-crash-corpus"); val cp = tmpDir("bf-crash-cp")
      val ms = MemoryStream[(Long, String, Seq[Double])]
      ms.addData(crashBatch0: _*)
      crashRun(corpus, cp, ms)
      ms.addData(crashBatch1: _*)
      crashRun(corpus, cp, ms)
      val marker = new java.io.File(corpus, s"_graft_$fam/_backfill_pending")

      // window 1 — marked, nothing written: the double-failure missing
      // batch is detected, the pending marker lands, then the crash
      deleteFamilyBatch(corpus, fam, 0L, 1L)
      val leavesAfter = Option(new java.io.File(corpus, s"_graft_$fam").listFiles())
        .getOrElse(Array.empty[java.io.File]).filter(_.isDirectory)
        .map(b => b.getName -> new java.io.File(b, "epoch=0/batch_id=1").exists()).toSeq
      assert(leavesAfter.nonEmpty && leavesAfter.forall(!_._2),
        s"fixture: batch_id=1 leaves must be gone after the delete: $leavesAfter")
      graft.streaming.CorpusIngest.FaultInjection.arm(s"backfill-$fam-marked")
      val e1 = intercept[RuntimeException] { crashRun(corpus, cp, ms) }
      assert(e1.getMessage.contains("planted fault"), e1.getMessage)
      assert(marker.exists(), "fixture: the pending marker must be durable at the crash")
      crashRun(corpus, cp, ms) // restart, unarmed → backfill redone
      assert(!marker.exists(), "a completed backfill must clear its marker")
      val a1 = crashFamilyState(corpus)
      for (f <- Seq("corpus", "bands", "winnow", "cells")) {
        assert(a1(f)._1 === crashControlState(f)._1, s"$f tree diverges after marked-window heal")
        assert(a1(f)._2 === crashControlState(f)._2, s"$f rows diverge after marked-window heal")
      }

      // window 2 — written, marker uncleared, then a TEAR: pre-marker,
      // a backfill that committed SOME bucket leaves made the batch
      // look present to the existence diff and the tear went permanent
      // (the old existence-diff residual). With the marker
      // the redo is unconditional.
      deleteFamilyBatch(corpus, fam, 0L, 1L)
      graft.streaming.CorpusIngest.FaultInjection.arm(s"backfill-$fam-written")
      val e2 = intercept[RuntimeException] { crashRun(corpus, cp, ms) }
      assert(e2.getMessage.contains("planted fault"), e2.getMessage)
      assert(marker.exists(), "fixture: the marker must still be set after the write")
      // simulate the tear: drop ONE bucket's leaf of the just-backfilled
      // batch, leaving the others in place
      val bucket = Option(new java.io.File(corpus, s"_graft_$fam").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.contains("=") &&
          new java.io.File(f, "epoch=0/batch_id=1").exists())
        .minBy(_.getName)
      rmRfDir(new java.io.File(bucket, "epoch=0/batch_id=1"))
      crashRun(corpus, cp, ms) // restart, unarmed → marker forces the full redo
      assert(!marker.exists())
      val a2 = crashFamilyState(corpus)
      for (f <- Seq("corpus", "bands", "winnow", "cells")) {
        assert(a2(f)._1 === crashControlState(f)._1, s"$f tree diverges after torn-write heal")
        assert(a2(f)._2 === crashControlState(f)._2, s"$f rows diverge after torn-write heal")
      }
    }

  test("deleteDocs: targeted erasure removes every copy from corpus + all sidecars; a near-dup of the erased doc then LANDS") {
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("del-corpus"); val cp = tmpDir("del-cp")
    val ms = MemoryStream[(Long, String, Seq[Double])]
    ms.addData(crashBatch0: _*)
    crashRun(corpus, cp, ms)
    ms.addData(crashBatch1: _*)
    crashRun(corpus, cp, ms)
    assert(ids(corpus) === Set(1L, 2L, 10L))

    // erase doc 2 (plus an id the corpus never had — a no-op)
    val removed = graft.streaming.CorpusIngest.deleteDocs(
      spark, corpus, Seq(2L, 99L).toDF("doc_id"))
    assert(removed === 1L)
    assert(ids(corpus) === Set(1L, 10L))
    // every sidecar is consistent with exactly the surviving rows:
    // winnow/cells checked by id, bands by full recompute equality
    assert(spark.read.parquet(s"$corpus/_graft_winnow")
      .select("doc_id").as[Long].collect().toSet === Set(1L, 10L))
    assert(spark.read.parquet(s"$corpus/_graft_cells")
      .select("doc_id").as[Long].collect().toSet === Set(1L, 10L))
    val idxBands = spark.read.parquet(s"$corpus/_graft_bands")
      .select(col("band"), col("bh"), col("epoch").cast("long"),
        col("batch_id").cast("long"))
      .as[(Int, String, Long, Long)].collect().toSet
    val recomputed = graft.functions.Dedup.bandsLong(
        spark.read.parquet(corpus)
          .withColumn("epoch", col("epoch").cast("long"))
          .withColumn("batch_id", col("batch_id").cast("long")),
        4, Seq("epoch", "batch_id"))
      .select(col("band"), col("bh"), col("epoch"), col("batch_id"))
      .as[(Int, String, Long, Long)].collect().toSet
    assert(idxBands === recomputed, "deleteDocs left the band index stale")
    // idempotent
    assert(graft.streaming.CorpusIngest.deleteDocs(
      spark, corpus, Seq(2L).toDF("doc_id")) === 0L)
    // THE erasure consequence: a near-dup of the erased doc 2 now LANDS
    // (its band/fp/cell rows are gone), while a near-dup of the KEPT
    // doc 1 still drops — the probes didn't break, the target vanished
    val ms2 = MemoryStream[(Long, String, Seq[Double])]
    ms2.addData(
      (30L, curText("bravo") + " erased target tail", Seq(0.0, 0.0, 0.6, 0.8)),
      (31L, curText("alpha") + " extra tail words here", Seq(0.0, 0.6, 0.0, 0.8)))
    crashRun(corpus, tmpDir("del-cp2"), ms2) // fresh checkpoint: new query
    assert(ids(corpus) === Set(1L, 10L, 30L),
      "near-dup of the ERASED doc must land; near-dup of the KEPT doc must drop")
  }

  for (point <- Seq("delete-after-index-sweep", "delete-after-index-append",
      "delete-after-corpus-rewrite"))
    test(s"deleteDocs: planted crash at $point — a re-run with the same ids heals to the clean-delete state") {
      implicit val ctx = spark.sqlContext
      // control: the same build with a clean delete
      def build(): String = {
        val corpus = tmpDir("del-crash"); val cp = tmpDir("del-crash-cp")
        val ms = MemoryStream[(Long, String, Seq[Double])]
        ms.addData(crashBatch0: _*)
        crashRun(corpus, cp, ms)
        ms.addData(crashBatch1: _*)
        crashRun(corpus, cp, ms)
        corpus
      }
      val ctl = build()
      assert(graft.streaming.CorpusIngest.deleteDocs(
        spark, ctl, Seq(2L).toDF("doc_id")) === 1L)
      val want = crashFamilyState(ctl)

      val corpus = build()
      graft.streaming.CorpusIngest.FaultInjection.arm(point)
      val e = intercept[RuntimeException] {
        graft.streaming.CorpusIngest.deleteDocs(spark, corpus, Seq(2L).toDF("doc_id"))
      }
      assert(e.getMessage.contains("planted fault"), e.getMessage)
      // the heal contract: RE-RUN with the same ids (the durable
      // tombstone list) — idempotent through every window
      graft.streaming.CorpusIngest.deleteDocs(spark, corpus, Seq(2L).toDF("doc_id"))
      val got = crashFamilyState(corpus)
      for (fam <- Seq("corpus", "bands", "winnow", "cells")) {
        assert(got(fam)._1 === want(fam)._1, s"$fam tree diverges after heal at $point")
        assert(got(fam)._2 === want(fam)._2, s"$fam rows diverge after heal at $point")
      }
    }

  // shared control for the auto-heal lattice below: a CLEAN delete plus
  // the same follow-up batch — the expected end state is identical for
  // every crash window, so it is built once
  private def eraseHealBatch = Seq(
    // near-dup of the ERASED doc 2 → must LAND (its probe rows are
    // gone); near-dup of the KEPT doc 1 → must still drop
    (30L, curText("bravo") + " erased target tail", Seq(0.0, 0.0, 0.6, 0.8)),
    (31L, curText("alpha") + " extra tail words here", Seq(0.0, 0.6, 0.0, 0.8)))
  private lazy val eraseHealControl: (Map[String, (Set[String], Set[String])], Set[Long]) = {
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("del-auto-ctl")
    val ms = MemoryStream[(Long, String, Seq[Double])]
    ms.addData(crashBatch0: _*)
    crashRun(corpus, tmpDir("del-auto-ctl-cp"), ms)
    assert(graft.streaming.CorpusIngest.deleteDocs(
      spark, corpus, Seq(2L).toDF("doc_id")) === 1L)
    val ms2 = MemoryStream[(Long, String, Seq[Double])]
    ms2.addData(eraseHealBatch: _*)
    crashRun(corpus, tmpDir("del-auto-ctl-cp2"), ms2)
    (crashFamilyState(corpus), ids(corpus))
  }

  for (point <- Seq("delete-after-marker", "delete-after-index-sweep",
      "delete-after-index-append", "delete-after-corpus-rewrite"))
    test(s"deleteDocs: crash at $point — the NEXT SINK START finishes the erasure via the pending marker, no manual re-run") {
      implicit val ctx = spark.sqlContext
      val corpus = tmpDir("del-auto"); val cp = tmpDir("del-auto-cp")
      val ms = MemoryStream[(Long, String, Seq[Double])]
      ms.addData(crashBatch0: _*)
      crashRun(corpus, cp, ms)
      graft.streaming.CorpusIngest.FaultInjection.arm(point)
      val e = intercept[RuntimeException] {
        graft.streaming.CorpusIngest.deleteDocs(spark, corpus, Seq(2L).toDF("doc_id"))
      }
      assert(e.getMessage.contains("planted fault"), e.getMessage)
      assert(new java.io.File(corpus, "_erasure_pending").exists,
        "fixture: the pending marker must be durable inside every crash window")
      // resuming the ORIGINAL curation checkpoint heals the erasure
      // FIRST, then the rail refuses the resume itself — its RocksDB
      // seen-state predates the erasure by construction
      ms.addData(eraseHealBatch: _*)
      val railErr = intercept[IllegalArgumentException] { crashRun(corpus, cp, ms) }
      assert(railErr.getMessage.contains("erasure epoch"), railErr.getMessage)
      assert(ids(corpus) === Set(1L), s"erasure unfinished after auto-heal at $point")
      assert(!new java.io.File(corpus, "_erasure_pending").exists,
        "marker must clear once the heal commits")
      // a FRESH-checkpoint start sails through; state equals the
      // clean-delete control family by family, and the consequence
      // holds (near-dup of erased lands, near-dup of kept drops)
      val ms2 = MemoryStream[(Long, String, Seq[Double])]
      ms2.addData(eraseHealBatch: _*)
      crashRun(corpus, tmpDir("del-auto-cp2"), ms2)
      assert(ids(corpus) === eraseHealControl._2)
      val got = crashFamilyState(corpus)
      for (fam <- Seq("corpus", "bands", "winnow", "cells")) {
        assert(got(fam)._1 === eraseHealControl._1(fam)._1,
          s"$fam tree diverges after auto-heal at $point")
        assert(got(fam)._2 === eraseHealControl._1(fam)._2,
          s"$fam rows diverge after auto-heal at $point")
      }
    }

  test("deleteDocs: erasure rail — a live exact checkpoint is REFUSED after erasure; a fresh one re-admits the text; no-erasure restarts unaffected") {
    // round-16 verdict #3: the one erasure residue deleteDocs cannot
    // reach (another query's RocksDB seen-state) used to be a manual
    // fresh-restart discipline; the rail makes it mechanical — the
    // stale checkpoint stops loudly instead of silently dropping
    // re-submissions of erased text forever
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("del-rail"); val cp = tmpDir("del-rail-cp")
    def run(cp2: String, stream: MemoryStream[(Long, String)]): Unit =
      graft.streaming.CorpusIngest.startDedupedCorpusSink(
        stream.toDF().toDF("doc_id", "text"), corpus, cp2).awaitTermination()
    val ms = MemoryStream[(Long, String)]
    ms.addData((1L, "erase me completely"), (2L, "keep me around"))
    run(cp, ms)
    // no-erasure resume: unaffected by the rail
    ms.addData((3L, "a third doc entirely"))
    run(cp, ms)
    assert(ids(corpus) === Set(1L, 2L, 3L))
    assert(graft.streaming.CorpusIngest.deleteDocs(
      spark, corpus, Seq(1L).toDF("doc_id")) === 1L)
    // the rail: the stale checkpoint is refused LOUDLY — its seen-set
    // still holds the erased hash and would drop this re-submission
    ms.addData((10L, "erase me completely"))
    val e = intercept[IllegalArgumentException] { run(cp, ms) }
    assert(e.getMessage.contains("erasure epoch"), e.getMessage)
    assert(ids(corpus) === Set(2L, 3L), "a refused start must not ingest")
    // FRESH checkpoint: the bootstrap re-reads stored hashes, where the
    // erased doc no longer exists → the text is re-admitted, while a
    // re-submission of KEPT text still deduplicates
    val ms2 = MemoryStream[(Long, String)]
    ms2.addData((11L, "erase me completely"), (12L, "keep me around"))
    run(tmpDir("del-rail-cp2"), ms2)
    assert(ids(corpus) === Set(2L, 3L, 11L),
      "fresh checkpoint must re-admit erased text and still drop kept-text dups")
  }

  test("deleteDocs: exact corpus with postings — erased doc leaves postings and stats, BM25 never scores it") {
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("del-post"); val cp = tmpDir("del-post-cp")
    val ms = MemoryStream[(Long, String)]
    ms.addData((1L, "apple pie crust"), (2L, "banana bread loaf"),
      (3L, "cherry tart shell"))
    graft.streaming.CorpusIngest.startDedupedCorpusSink(
      ms.toDF().toDF("doc_id", "text"), corpus, cp,
      maintainPostings = true, postingsBuckets = 4).awaitTermination()
    assert(postingsStats(corpus)._1 === 3L)
    assert(graft.streaming.CorpusIngest.deleteDocs(
      spark, corpus, Seq(2L).toDF("doc_id")) === 1L)
    assert(postingsRows(corpus).map(_._1) === Set(1L, 3L))
    assert(postingsStats(corpus)._1 === 2L)
    val hits = graft.streaming.CorpusIngest.bm25OverCorpus(
        spark, corpus, Seq((100L, "banana")).toDF("query_id", "term"),
        "query_id", "term", k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(!hits.contains(2L), "BM25 scored an erased doc")
  }

  test("refitCellIndex: drift response — corpus cells re-assigned under new centroids, sidecar re-pinned, old centroids refused") {
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("refit-corpus")
    val centsA = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("cell_id", "centroid")
    val centsB = Seq((0, Seq(0.0, 1.0)), (1, Seq(1.0, 0.0))).toDF("cell_id", "centroid")
    val ms = MemoryStream[(Long, String, Seq[Double])]
    ms.addData(
      (1L, "x axis doc", Seq(1.0, 0.1)),
      (2L, "y axis doc", Seq(0.1, 1.0)))
    graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
      ms.toDF().toDF("doc_id", "text", "embedding"), corpus,
      tmpDir("refit-cp"), centsA).awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id", "cell")
      .as[(Long, Int)].collect().toSet === Set((1L, 0), (2L, 1)))

    // the drift alert fired; ops re-fit — here the cells literally swap
    val changed = graft.streaming.CorpusIngest.refitCellIndex(spark, corpus, centsB)
    assert(changed === 2L)
    assert(spark.read.parquet(corpus).select("doc_id", "cell")
      .as[(Long, Int)].collect().toSet === Set((1L, 1), (2L, 0)))
    assert(spark.read.parquet(s"$corpus/_graft_cells")
      .select("doc_id", "cell").as[(Long, Int)].collect().toSet
      === Set((1L, 1), (2L, 0)), "sidecar out of step after refit")
    // idempotent
    assert(graft.streaming.CorpusIngest.refitCellIndex(spark, corpus, centsB) === 0L)
    // the pin rail: new-centroid sinks work, old-centroid sinks refuse
    val ms2 = MemoryStream[(Long, String, Seq[Double])]
    ms2.addData((3L, "diag doc", Seq(1.0, 1.0)))
    graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
      ms2.toDF().toDF("doc_id", "text", "embedding"), corpus,
      tmpDir("refit-cp2"), centsB).awaitTermination()
    assert(ids(corpus) === Set(1L, 2L, 3L))
    val ms3 = MemoryStream[(Long, String, Seq[Double])]
    val err = intercept[IllegalArgumentException] {
      graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
        ms3.toDF().toDF("doc_id", "text", "embedding"), corpus,
        tmpDir("refit-cp3"), centsA)
    }
    assert(err.getMessage.contains("centroids"), err.getMessage)
  }

  test("refitCellIndex: a ceiling refusal mutates NOTHING — pin intact, old-centroid sinks still start") {
    // round-16 ADVICE: the guard used to fire AFTER the pin delete, so
    // a refusal (which repeats deterministically on every re-run) left
    // the corpus on OLD assignments with NO pin — and a new-centroid
    // sink would adopt an index rebuilt from those old stored cells
    implicit val ctx = spark.sqlContext
    val centsA = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("cell_id", "centroid")
    val centsB = Seq((0, Seq(0.0, 1.0)), (1, Seq(1.0, 0.0))).toDF("cell_id", "centroid")
    val corpus = tmpDir("refit-guard")
    // two sink sessions → two epochs → two affected pairs > ceiling 1
    for ((id, emb, tag) <- Seq((1L, Seq(1.0, 0.1), "alpha"), (2L, Seq(0.1, 1.0), "bravo"))) {
      val ms = MemoryStream[(Long, String, Seq[Double])]
      ms.addData((id, s"unique $tag axis doc text", emb))
      graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
        ms.toDF().toDF("doc_id", "text", "embedding"), corpus,
        tmpDir(s"refit-guard-cp-$tag"), centsA).awaitTermination()
    }
    def state() = (
      spark.read.parquet(corpus).select("doc_id", "cell")
        .as[(Long, Int)].collect().toSet,
      spark.read.parquet(s"$corpus/_graft_cells").select("doc_id", "cell")
        .as[(Long, Int)].collect().toSet)
    val before = state()
    spark.conf.set(graft.streaming.CorpusIngest.MaxCompactionPairsKey, "1")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.streaming.CorpusIngest.refitCellIndex(spark, corpus, centsB)
      }
      assert(e.getMessage.contains("refitCellIndex"), e.getMessage)
      assert(new java.io.File(corpus, "_graft_cells").exists,
        "a ceiling refusal must not delete the centroid pin")
      assert(state() === before, "a ceiling refusal must not mutate corpus or sidecar")
      // the untouched pin still serves OLD-centroid sinks
      val ms2 = MemoryStream[(Long, String, Seq[Double])]
      ms2.addData((3L, "third unique doc text entirely", Seq(0.6, 0.8)))
      graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
        ms2.toDF().toDF("doc_id", "text", "embedding"), corpus,
        tmpDir("refit-guard-cp3"), centsA).awaitTermination()
      assert(state()._1.map(_._1) === Set(1L, 2L, 3L))
    } finally spark.conf.unset(graft.streaming.CorpusIngest.MaxCompactionPairsKey)
    // ceiling lifted: the same refit converges (all three docs swap)
    assert(graft.streaming.CorpusIngest.refitCellIndex(spark, corpus, centsB) === 3L)
  }

  for (point <- Seq("refit-after-pin-delete", "refit-after-corpus-rewrite"))
    test(s"refitCellIndex: planted crash at $point — a re-run with the same centroids converges") {
      implicit val ctx = spark.sqlContext
      val centsA = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("cell_id", "centroid")
      val centsB = Seq((0, Seq(0.0, 1.0)), (1, Seq(1.0, 0.0))).toDF("cell_id", "centroid")
      def build(): String = {
        val corpus = tmpDir("refit-crash")
        val ms = MemoryStream[(Long, String, Seq[Double])]
        ms.addData((1L, "x axis doc", Seq(1.0, 0.1)), (2L, "y axis doc", Seq(0.1, 1.0)))
        graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
          ms.toDF().toDF("doc_id", "text", "embedding"), corpus,
          tmpDir("refit-crash-cp"), centsA).awaitTermination()
        corpus
      }
      def state(corpus: String) = (
        spark.read.parquet(corpus).select("doc_id", "cell")
          .as[(Long, Int)].collect().toSet,
        spark.read.parquet(s"$corpus/_graft_cells").select("doc_id", "cell")
          .as[(Long, Int)].collect().toSet)
      val ctl = build()
      assert(graft.streaming.CorpusIngest.refitCellIndex(spark, ctl, centsB) === 2L)
      val want = state(ctl)

      val corpus = build()
      graft.streaming.CorpusIngest.FaultInjection.arm(point)
      val e = intercept[RuntimeException] {
        graft.streaming.CorpusIngest.refitCellIndex(spark, corpus, centsB)
      }
      assert(e.getMessage.contains("planted fault"), e.getMessage)
      assert(!new java.io.File(corpus, "_graft_cells").exists(),
        "fixture: the old pin must be gone at every refit crash window")
      // the heal contract: re-run with the same centroids
      graft.streaming.CorpusIngest.refitCellIndex(spark, corpus, centsB)
      assert(state(corpus) === want, s"refit heal diverged at $point")
      // and the pin rail holds post-heal: only new-centroid sinks start
      val ms2 = MemoryStream[(Long, String, Seq[Double])]
      intercept[IllegalArgumentException] {
        graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
          ms2.toDF().toDF("doc_id", "text", "embedding"), corpus,
          tmpDir("refit-crash-cp2"), centsA)
      }
    }

  test("deleteDocsWhere: predicate erasure routes through the full deleteDocs discipline") {
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("delw-corpus"); val cp = tmpDir("delw-cp")
    val ms = MemoryStream[(Long, String, Seq[Double])]
    ms.addData(crashBatch0: _*)
    crashRun(corpus, cp, ms)
    ms.addData(crashBatch1: _*)
    crashRun(corpus, cp, ms)
    assert(ids(corpus) === Set(1L, 2L, 10L))
    // the compliance shape: erase by CONTENT, not by id
    val removed = graft.streaming.CorpusIngest.deleteDocsWhere(
      spark, corpus, col("text").contains(curText("bravo").take(20)))
    assert(removed === 1L)
    assert(ids(corpus) === Set(1L, 10L))
    assert(spark.read.parquet(s"$corpus/_graft_winnow")
      .select("doc_id").as[Long].collect().toSet === Set(1L, 10L),
      "sidecars must follow the predicate erasure")
    // marker/epoch discipline engaged: the erasure epoch bumped, so a
    // no-op second call is 0 and the audit reads clean
    assert(graft.streaming.CorpusIngest.deleteDocsWhere(
      spark, corpus, col("text").contains(curText("bravo").take(20))) === 0L)
    val audit = graft.streaming.CorpusIngest.auditCorpus(spark, corpus)
      .as[(String, String, String)].collect().map(t => t._1 -> t._2).toMap
    assert(audit.values.forall(_ == "ok"), audit.toString)
    // predicate matching nothing is a no-op
    assert(graft.streaming.CorpusIngest.deleteDocsWhere(
      spark, corpus, col("doc_id") === 999L) === 0L)
  }

  test("auditCorpus: healthy corpus reads all-ok; flags pending erasure, unindexed pairs, orphans; heals read ok again") {
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("audit-corpus"); val cp = tmpDir("audit-cp")
    val ms = MemoryStream[(Long, String, Seq[Double])]
    ms.addData(crashBatch0: _*)
    crashRun(corpus, cp, ms)
    def audit(): Map[String, (String, String)] =
      graft.streaming.CorpusIngest.auditCorpus(spark, corpus)
        .as[(String, String, String)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
    val a0 = audit()
    for (c <- Seq("corpus", "erasure", "bands", "winnow", "cells", "postings"))
      assert(a0(c)._1 === "ok", s"$c: ${a0(c)}")
    assert(!a0.contains("postings-stats"), "no stats row without a postings sidecar")

    // an interrupted erasure: marker + swept-but-unrebuilt sidecars
    graft.streaming.CorpusIngest.FaultInjection.arm("delete-after-index-sweep")
    intercept[RuntimeException] {
      graft.streaming.CorpusIngest.deleteDocs(spark, corpus, Seq(2L).toDF("doc_id"))
    }
    val a1 = audit()
    assert(a1("erasure")._1 === "attention" &&
      a1("erasure")._2.contains("pending-erasure"), a1("erasure").toString)
    for (f <- Seq("bands", "winnow", "cells"))
      assert(a1(f)._1 === "attention" && a1(f)._2.contains("unindexed"),
        s"$f: ${a1(f)}")
    // the audit names the heal; the heal is the next sink start
    val ms2 = MemoryStream[(Long, String, Seq[Double])]
    ms2.addData((50L, curText("golf"), Seq(0.0, 0.0, 0.0, 1.0)))
    crashRun(corpus, tmpDir("audit-cp2"), ms2)
    val a2 = audit()
    assert(a2.values.forall(_._1 == "ok"), a2.toString)

    // out-of-band corpus partition removal → orphan index pairs flagged,
    // swept at the next start
    val doomed = new java.io.File(corpus, "epoch=1/batch_id=0")
    assert(doomed.exists, "fixture: the heal sink's partition must exist")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(doomed)
    val a3 = audit()
    for (f <- Seq("bands", "winnow", "cells"))
      assert(a3(f)._1 === "attention" && a3(f)._2.contains("orphan"),
        s"$f: ${a3(f)}")
    val ms3 = MemoryStream[(Long, String, Seq[Double])]
    ms3.addData((60L, curText("hotel"), Seq(0.0, 0.0, 1.0, 0.0)))
    crashRun(corpus, tmpDir("audit-cp3"), ms3)
    assert(audit().values.forall(_._1 == "ok"), audit().toString)
  }

  test("auditCorpus: postings corpus — stats twin tracked, hand-broken stats flagged, exact-sink start heals") {
    implicit val ctx = spark.sqlContext
    val corpus = tmpDir("audit-post"); val cp = tmpDir("audit-post-cp")
    val ms = MemoryStream[(Long, String)]
    ms.addData((1L, "alpha doc text"), (2L, "bravo doc text"))
    graft.streaming.CorpusIngest.startDedupedCorpusSink(
      ms.toDF().toDF("doc_id", "text"), corpus, cp,
      maintainPostings = true, postingsBuckets = 4).awaitTermination()
    def audit(): Map[String, (String, String)] =
      graft.streaming.CorpusIngest.auditCorpus(spark, corpus)
        .as[(String, String, String)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
    val a0 = audit()
    assert(a0("postings")._1 === "ok" && a0("postings-stats")._1 === "ok", a0.toString)
    // hand-break the stats twin
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(corpus, "_graft_postings_stats/epoch=0"))
    val a1 = audit()
    assert(a1("postings-stats")._1 === "attention" &&
      a1("postings-stats")._2.contains("missing stats"), a1("postings-stats").toString)
    // the named heal: an exact-sink start (the postings ensure reconciles)
    val ms2 = MemoryStream[(Long, String)]
    ms2.addData((3L, "charlie doc text"))
    graft.streaming.CorpusIngest.startDedupedCorpusSink(
      ms2.toDF().toDF("doc_id", "text"), corpus, tmpDir("audit-post-cp2"),
      maintainPostings = true, postingsBuckets = 4).awaitTermination()
    assert(audit().values.forall(_._1 == "ok"), audit().toString)
  }

  test("semantic-probing sinks tolerate null-embedding docs: the doc is gated, the query survives") {
    // a null embedding cannot be cell-assigned; without the gate filter
    // the null cell NPEs the DRIVER-side cellsHit collect and kills the
    // whole streaming query — the sink-side analogue of the TokenDrift
    // null-text fix, and the CentroidDrift monitor's existing tolerance
    implicit val ctx = spark.sqlContext
    val cents = curCents.toDF("cell_id", "centroid")

    // composed curation sink
    val corpus = tmpDir("nullemb-corpus")
    val ms = MemoryStream[(Long, String, Seq[Double])]
    ms.addData(
      (1L, curText("alpha"), Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, curText("bravo"), null))
    graft.streaming.CorpusIngest.startCurationSink(
      ms.toDF().toDF("doc_id", "text", "embedding"), corpus,
      tmpDir("nullemb-cp"), cents).awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
      === Set(1L), "null-embedding doc must be gated, healthy doc must land")

    // standalone semantic sink
    val semCorpus = tmpDir("nullemb-sem-corpus")
    val ms2 = MemoryStream[(Long, String, Seq[Double])]
    ms2.addData(
      (10L, "plain stored text here", Seq(0.0, 1.0, 0.0, 0.0)),
      (11L, "null vector text here", null))
    graft.streaming.CorpusIngest.startSemanticDedupCorpusSink(
      ms2.toDF().toDF("doc_id", "text", "embedding"), semCorpus,
      tmpDir("nullemb-sem-cp"), cents).awaitTermination()
    assert(spark.read.parquet(semCorpus).select("doc_id").as[Long].collect().toSet
      === Set(10L), "semantic sink must gate the null-embedding doc and keep running")
  }

  test("curation monitors: the three companion monitor axes attach over one source frame") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val cents = curCents.toDF("cell_id", "centroid")
      val ref = graft.streaming.TokenDrift.referenceHistogram(
        Seq(curText("alpha"), curText("bravo")).toDF("text"), "text", 256)
      val ms = MemoryStream[(String, Long, String, Seq[Double])]
      val docs = ms.toDF().toDF("source", "doc_id", "text", "embedding")
      val (qm, tm, cdm) = graft.streaming.CorpusIngest.curationMonitors(
        docs, "source", ref, cents)
      val q1 = qm.writeStream.outputMode("update").format("memory")
        .queryName("cur_q").start()
      val q2 = tm.writeStream.outputMode("update").format("memory")
        .queryName("cur_t").start()
      val q3 = cdm.writeStream.outputMode("update").format("memory")
        .queryName("cur_c").start()
      ms.addData(
        ("web", 1L, curText("alpha"), Seq(1.0, 0.0, 0.0, 0.0)),
        ("web", 2L, curText("bravo"), Seq(0.0, 1.0, 0.0, 0.0)))
      Seq(q1, q2, q3).foreach(_.processAllAvailable())
      Seq(q1, q2, q3).foreach(_.stop())
      assert(spark.table("cur_q").count() >= 1, "quality monitor emitted nothing")
      assert(spark.table("cur_t").count() >= 1, "token-drift monitor emitted nothing")
      // centroid drift is edge-triggered — in-distribution embeddings
      // produce no incident rows; the query running to completion over
      // the same source frame is the composition proof
      assert(spark.table("cur_c").count() >= 0)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("keepNarrow is the narrow Gopher subset: every full-battery keep passes it, and it binds") {
    import graft.functions.TextAnalysis
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val narrow = docs.select(col("doc_id"),
        graft.streaming.QualityDrift.keepNarrow(col("text")).as("nk"))
      .as[(Long, Boolean)].collect().toMap
    val full = TextAnalysis.gopherFilter(docs, "doc_id", "text")
      .select(col("doc_id"), col("keep")).as[(Long, Boolean)].collect().toMap
    full.foreach { case (id, keep) =>
      if (keep) assert(narrow(id), s"full-battery keep $id fails the narrow subset")
    }
    assert(narrow.values.exists(v => !v), "narrow rules never bind — vacuous monitor")
  }
}
