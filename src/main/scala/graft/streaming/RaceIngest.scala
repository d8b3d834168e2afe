package graft.streaming

import scala.util.matching.Regex

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.{LongType, StructType}

import graft.model.Schemas
import graft.ops.F1Ops

/** The reference's Structured Streaming core (SURVEY.md §2.7; reference:
  * spark_ingestion.py:80–136): Kafka-shaped source → cast → declared-schema
  * JSON parse → points derivation → completeness filter → checkpointed
  * `foreachBatch` append sink.
  *
  * The transform is source-agnostic (any DataFrame with a `value` column —
  * Kafka, MemoryStream, file, rate) which is what makes it testable without
  * a broker (SURVEY.md §7.5.4) and portable to Kinesis-style sources. The
  * plan is narrow end-to-end: parse/derive/filter pipeline in one stage, no
  * shuffle, so ingest scales with source partitions alone.
  */
object RaceIngest {

  /** P1–P6 chain — pure, batch/stream agnostic. */
  def transform(raw: DataFrame): DataFrame =
    F1Ops.deriveRace(F1Ops.parseRaceJson(raw))

  /** T1–T3: append-mode foreachBatch parquet sink with checkpoint —
    * WRITE-SIDE exactly-once.
    *
    * The reference ignores `batchId` and blind-appends, so a replayed
    * micro-batch duplicates rows (at-least-once; spark_ingestion.py:116–125,
    * SURVEY.md §4). Here each batch writes its own `batch_id=N` partition
    * with dynamic partition overwrite: a replay of batch N overwrites
    * exactly partition N with identical content — idempotent at the sink,
    * no read-side dedup required for replays. (`readExactlyOnce` covers
    * records the producer resends in a later batch.)
    *
    * Layout under `outPath`:
    *  - `batch_id=N/` — one partition per micro-batch, never touched
    *    after its batch commits, so a plain `spark.read.parquet(outPath)`
    *    sees every row with `batch_id` as its partition column;
    *  - `_compacted/upto=K/` — a base: every row of the partitions with
    *    id ≤ K, verbatim, `batch_id` kept as a data column. Spark's
    *    listing skips `_`-prefixed directories, so plain root readers
    *    never see the bases.
    *
    * Fold rule: after batch N's partition is written, the tail — the
    * partitions in (K, N] above the newest base K — is folded once it
    * holds half of `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (16 of 32 by default). Base ∪ tail is written to
    * `_compacted/upto=N.tmp` and renamed to `upto=N`; then all but the
    * newest two bases go, so a reader that listed the previous base
    * still finds its files for another threshold/2 triggers. A fold costs one write job over the base
    * plus the tail (read with the declared schema, no listing job), once
    * every threshold/2 triggers. A batch N at or below some base's K (a
    * replay, or a fresh checkpoint over an old sink) first deletes every
    * base with K ≥ N, so a base always equals the partitions ≤ K it was
    * folded from.
    *
    * Limits: storage is ~2× the data (the bases repeat the partitions),
    * and each fold rewrites the whole base into one file — tiny for
    * per-driver race rows, linear in the sink's size at any scale.
    * Tiered (log-structured) merging is out of scope.
    */
  def startParquetSink(raw: DataFrame, outPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    transform(raw).writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val layout = new SinkLayout(batch.sparkSession, outPath)
        layout.dropBasesFrom(batchId)
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outPath)
        layout.foldThrough(batchId)
      }
      .start()

  /** The rows [[startParquetSink]] stores: the declared fact schema plus
    * the writing batch's id. `batch_id` is a `long` — a plain root read
    * infers the partition column as `int`.
    */
  private[graft] val SinkSchema: StructType = Schemas.raceResults.add("batch_id", LongType, nullable = false)

  /** Exactly-once read view over the parquet sink. [[startParquetSink]]
    * is already idempotent per batch (a replayed batch overwrites its own
    * `batch_id=N` partition), so this dedup is not for replays: it drops
    * the same record RESENT by the producer in a later batch, which lands
    * in a different partition. Every row carries its batch id, so a keyed
    * read-side dedup (keep the first batch per natural key) serves each
    * natural key once without coordinating writers.
    *
    * Reader contract: one driver listing of `_compacted/`, one of the
    * root; the view is the newest base ∪ the partitions above its K,
    * both read with [[SinkSchema]] — no listing job, no footer job, and
    * a file count bounded by one base plus the fold point, however many
    * triggers wrote the sink. Its rows equal a plain root read's. The
    * first-wins order is total — `batch_id`, then every other column in
    * [[SinkSchema]] order — so two different same-key rows of one batch
    * resolve the same way in any file layout. An existing sink with no
    * batch yet reads empty; a missing path fails as a plain read does
    * (`PATH_NOT_FOUND`).
    */
  def readExactlyOnce(spark: org.apache.spark.sql.SparkSession, path: String,
      naturalKey: Seq[String] = Seq("session_key", "driver_number")): DataFrame =
    firstWins(new SinkLayout(spark, path).view(), naturalKey)

  /** Each natural key's first row of `rows` in the total order
    * `batch_id`, then every other [[SinkSchema]] column.
    */
  private[graft] def firstWins(rows: DataFrame, naturalKey: Seq[String]): DataFrame = {
    val rest = SinkSchema.fieldNames.toSeq.filterNot(f => f == "batch_id" || naturalKey.contains(f))
    F1Ops.firstWinsDedup(rows, naturalKey, ("batch_id" +: rest).map(col))
  }

  private val BatchDir = "batch_id=(\\d+)".r
  private val BaseDir = "upto=(\\d+)".r
  private val AnyBaseDir = "upto=(\\d+)(?:\\.tmp)?".r

  /** The on-disk layout of one [[startParquetSink]] root (see its doc). */
  private final class SinkLayout(spark: SparkSession, path: String) {
    private val root = new Path(path)
    private val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    private val compacted = new Path(root, "_compacted")

    /** Entry names of `dir`, or None when it does not exist. */
    private def names(dir: Path): Option[Seq[String]] =
      try Some(fs.listStatus(dir).toSeq.map(_.getPath.getName))
      catch { case _: java.io.FileNotFoundException => None }

    /** The ids `re` captures from `names`, ascending and distinct. */
    private def ids(names: Seq[String], re: Regex): Seq[Long] =
      names.collect { case re(k) => k.toLong }.distinct.sorted

    private def bases(): Seq[Long] = ids(names(compacted).getOrElse(Nil), BaseDir)
    private def baseDir(k: Long) = new Path(compacted, s"upto=$k")
    private def stage(k: Long) = new Path(compacted, s"upto=$k.tmp")

    /** Deletes base `k`, staged or complete. */
    private def drop(k: Long): Unit = {
      fs.delete(stage(k), true)
      fs.delete(baseDir(k), true)
    }

    /** Base `k` (if any) ∪ partitions `tail`, read with [[SinkSchema]]. */
    private def rows(k: Option[Long], tail: Seq[Long]): DataFrame = {
      val base = k.map(b => spark.read.schema(SinkSchema).parquet(baseDir(b).toString))
      val parts = Option.when(tail.nonEmpty)(spark.read.schema(SinkSchema)
        .option("basePath", path).parquet(tail.map(b => new Path(root, s"batch_id=$b").toString): _*))
      (base ++ parts).reduceOption(_.unionByName(_)).getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], SinkSchema))
    }

    /** The newest base ∪ the partitions above it; a missing root fails
      * with the plain read's own PATH_NOT_FOUND.
      */
    def view(): DataFrame = {
      val k = bases().lastOption
      names(root).fold(spark.read.schema(SinkSchema).parquet(path)) { ns =>
        rows(k, ids(ns, BatchDir).filter(b => k.forall(b > _)))
      }
    }

    /** Deletes every base, staged or complete, with K ≥ `batchId`. */
    def dropBasesFrom(batchId: Long): Unit =
      ids(names(compacted).getOrElse(Nil), AnyBaseDir).filter(_ >= batchId).foreach(drop)

    /** Folds the partitions in (K, `batchId`] into base `upto=batchId`
      * once they reach the fold point; then keeps the newest two bases.
      */
    def foldThrough(batchId: Long): Unit = {
      val k = bases().lastOption
      val tail = ids(names(root).getOrElse(Nil), BatchDir).filter(b => b <= batchId && k.forall(b > _))
      val threshold = spark.conf.get(SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key).toInt
      if (tail.size >= math.max(1, threshold / 2)) {
        rows(k, tail).coalesce(1).write.mode("overwrite").parquet(stage(batchId).toString)
        CorpusIngest.FaultInjection.maybeTrip("race-fold-before-rename")
        require(fs.rename(stage(batchId), baseDir(batchId)),
          s"could not rename ${stage(batchId)} to ${baseDir(batchId)}")
        CorpusIngest.FaultInjection.maybeTrip("race-fold-after-rename")
        val keep = bases().takeRight(2).toSet
        ids(names(compacted).getOrElse(Nil), AnyBaseDir).filterNot(keep).foreach(drop)
      }
    }
  }

  /** Kafka source wiring (S1; reference: spark_ingestion.py:80–88). Not
    * exercised in tests (no broker in the harness) but the full production
    * entry point: earliest offsets + tolerate data loss, exactly as the
    * reference configures it.
    */
  def kafkaSource(spark: org.apache.spark.sql.SparkSession, servers: String,
      topic: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("failOnDataLoss", "false")
      .load()

  /** Kafka re-publish sink (S4/S6; reference: kafka_consumer.py:54–62,
    * kafka_producer.py:145–151): key = driver_number, value = JSON of the
    * full record.
    */
  def toKafkaRecords(df: DataFrame): DataFrame =
    df.select(
      col("driver_number").cast("string").as("key"),
      to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** S2 — JDBC append sink bridged through foreachBatch (reference:
    * spark_ingestion.py:116–125). Same shape as the reference's
    * `write_to_postgres`; executors open connections, the driver never
    * funnels rows. At-least-once: a replayed batch appends its rows
    * again (StreamingSpec runs it against embedded Derby and pins that
    * replay appends).
    */
  def startJdbcSink(raw: DataFrame, jdbcUrl: String, table: String,
      props: java.util.Properties, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    transform(raw).writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").jdbc(jdbcUrl, table, props)
        ()
      }
      .start()

  /** S5 — the verification tap (reference: kafka_consumer.py:27–52 pretty-
    * prints every record): console sink on the transformed stream.
    */
  def startConsoleTap(raw: DataFrame): StreamingQuery =
    transform(raw).writeStream
      .outputMode("append")
      .format("console")
      .option("truncate", "false")
      .start()

  /** Stream-static enrichment: join the live stream against the drivers
    * dimension in-stream (the reference defers this join to serving time —
    * streamlit-app.py:41; doing it in the stream makes the sink
    * immediately queryable). Static side broadcast per micro-batch; the
    * stream stays narrow.
    */
  def transformEnriched(raw: DataFrame, drivers: DataFrame): DataFrame =
    F1Ops.enrichWithDim(transform(raw), drivers, "driver_number")

  /** A driver's live championship state. */
  case class DriverTotals(driver_number: String, points: Long, wins: Long, races: Long)

  /** Custom stateful streaming (`mapGroupsWithState`): per-driver running
    * championship totals maintained across micro-batches — the live
    * version of the serving-layer standings (the reference recomputes them
    * from Postgres on every page load; here state is incremental,
    * partitioned by driver, and checkpointed by the engine). Update mode:
    * each batch emits the new totals of drivers that scored.
    */
  def runningTotals(scored: Dataset[(String, Int)]): Dataset[DriverTotals] = {
    import scored.sparkSession.implicits._
    scored.groupByKey(_._1)
      .mapGroupsWithState[DriverTotals, DriverTotals](GroupStateTimeout.NoTimeout) {
        (driver: String, rows: Iterator[(String, Int)], state: GroupState[DriverTotals]) =>
          val prev = state.getOption.getOrElse(DriverTotals(driver, 0L, 0L, 0L))
          val batch = rows.toSeq
          val next = DriverTotals(
            driver,
            prev.points + batch.map(_._2.toLong).sum,
            prev.wins + batch.count(_._2 == 25),
            prev.races + batch.size)
          state.update(next)
          next
      }
  }

  /** [[runningTotals]] on the modern `transformWithState` API (Spark 4's
    * arbitrary-state operator, successor to `mapGroupsWithState`): state
    * lives in named, individually-evolvable `ValueState` handles backed by
    * the RocksDB state store — at scale that means state spills to local
    * disk per executor instead of living on the JVM heap, state schema can
    * evolve without checkpoint invalidation, and TTL is first-class.
    * Semantics are identical to [[runningTotals]] (StreamingSpec asserts
    * both paths batch for batch).
    */
  class DriverTotalsProcessor(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, (String, Int), DriverTotals] {
    @transient private var state: ValueState[DriverTotals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[DriverTotals](
        "totals", Encoders.product[DriverTotals], ttl)

    override def handleInputRows(driver: String, rows: Iterator[(String, Int)],
        timerValues: TimerValues): Iterator[DriverTotals] = {
      val prev = if (state.exists()) state.get()
        else DriverTotals(driver, 0L, 0L, 0L)
      val batch = rows.toSeq
      val next = DriverTotals(
        driver,
        prev.points + batch.map(_._2.toLong).sum,
        prev.wins + batch.count(_._2 == 25),
        prev.races + batch.size)
      state.update(next)
      Iterator.single(next)
    }
  }

  /** [[runningTotals]] via `transformWithState` (requires the RocksDB
    * state store provider — set
    * `spark.sql.streaming.stateStore.providerClass` to
    * `org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`).
    */
  def runningTotalsTws(scored: Dataset[(String, Int)]): Dataset[DriverTotals] = {
    import scored.sparkSession.implicits._
    scored.groupByKey(_._1)
      .transformWithState(new DriverTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** [[runningTotalsTws]] with first-class state TTL: a driver idle for
    * `ttl` of processing time has its ValueState expired by the store,
    * so its next event restarts totals from zero — the bounded-state
    * posture for unbounded key spaces (session-scoped telemetry keys,
    * one-shot drivers) where per-key state must not outlive the key's
    * activity. TTL requires `TimeMode.ProcessingTime` (expiry is
    * store-side, against batch processing time) and the RocksDB state
    * store provider, like every `transformWithState` op here.
    */
  def runningTotalsTwsTtl(scored: Dataset[(String, Int)],
      ttl: java.time.Duration): Dataset[DriverTotals] = {
    import scored.sparkSession.implicits._
    scored.groupByKey(_._1)
      .transformWithState(new DriverTotalsProcessor(TTLConfig(ttl)),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  /** A driver's last seen position, carried across micro-batches. */
  case class LastPosition(driver: String, position: Int)

  /** A position-change alert (emitted 0..n times per driver per batch). */
  case class PositionChange(driver_number: String, from_position: Int, to_position: Int)

  /** Custom stateful streaming with a VARIABLE number of outputs per
    * group per batch (`flatMapGroupsWithState` — the 0..n-row sibling of
    * [[runningTotals]]'s mapGroupsWithState): emit an alert row for every
    * position change a driver's events show against the last state, and
    * nothing when a batch only repeats the known position. The first
    * sighting of a driver sets state silently — an alert always has a
    * real `from_position`. State is one small record per driver,
    * partitioned by key and engine-checkpointed, so alert fan-out scales
    * with change rate, not stream rate.
    */
  def positionChangeAlerts(
      positions: Dataset[(String, Int)]): Dataset[PositionChange] = {
    import positions.sparkSession.implicits._
    positions.groupByKey(_._1)
      .flatMapGroupsWithState[LastPosition, PositionChange](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (driver: String, rows: Iterator[(String, Int)],
            state: GroupState[LastPosition]) =>
          var last = state.getOption.map(_.position).getOrElse(Int.MinValue)
          val out = Seq.newBuilder[PositionChange]
          rows.foreach { case (_, p) =>
            if (p != last) {
              if (last != Int.MinValue) out += PositionChange(driver, last, p)
              last = p
            }
          }
          state.update(LastPosition(driver, last))
          out.result().iterator
      }
  }

  /** Convenience: full pipeline → running totals, started on a memory sink
    * in update mode.
    */
  def startRunningTotals(raw: DataFrame, queryName: String): StreamingQuery = {
    val spark = raw.sparkSession
    import spark.implicits._
    val scored = transform(raw)
      .select(col("driver_number"), col("points"))
      .as[(String, Int)]
    runningTotals(scored).writeStream
      .outputMode(OutputMode.Update())
      .format("memory")
      .queryName(queryName)
      .start()
  }

  /** Stream-stream inner join with watermarks on BOTH sides — the one
    * Structured Streaming operator class the reference never touches
    * (its dimension join is static/serving-time; streamlit-app.py:41).
    * Score events join driver-profile UPDATE events (also a stream) on
    * driver plus a time-range condition: the profile must be at most
    * `maxAge` older than the score. The range bound is what makes the
    * join viable at scale — it lets the engine expire both sides' state
    * once the watermark passes (unbounded stream-stream state is the
    * classic production OOM), and rows arriving below the watermark are
    * dropped rather than joined.
    *
    * Expected schemas: scores(score_ts timestamp, driver_number string,
    * points int); profiles(profile_ts timestamp, profile_driver string,
    * team string).
    */
  def joinWithProfileUpdates(scores: DataFrame, profiles: DataFrame,
      watermark: String = "10 minutes",
      maxAge: String = "15 minutes"): DataFrame =
    scores.withWatermark("score_ts", watermark)
      .join(
        profiles.withWatermark("profile_ts", watermark),
        expr(s"""driver_number = profile_driver
                |AND profile_ts <= score_ts
                |AND profile_ts >= score_ts - INTERVAL $maxAge""".stripMargin))
      .select(col("driver_number"), col("score_ts"), col("points"),
        col("profile_ts"), col("team"))

  /** [[joinWithProfileUpdates]] with LEFT OUTER semantics: score rows
    * with no in-range profile are still emitted, null-padded — but only
    * once the watermark proves no matching profile can arrive (outer
    * stream-stream results are withheld until event time passes the
    * range bound; that is what makes the null decision final rather than
    * racy).
    */
  def joinWithProfileUpdatesOuter(scores: DataFrame, profiles: DataFrame,
      watermark: String = "10 minutes",
      maxAge: String = "15 minutes"): DataFrame =
    scores.withWatermark("score_ts", watermark)
      .join(
        profiles.withWatermark("profile_ts", watermark),
        expr(s"""driver_number = profile_driver
                |AND profile_ts <= score_ts
                |AND profile_ts >= score_ts - INTERVAL $maxAge""".stripMargin),
        "left_outer")
      .select(col("driver_number"), col("score_ts"), col("points"),
        col("profile_ts"), col("team"))

  /** Windowed event-time aggregation with watermark — the streaming-state
    * generalization the reference lacks (SURVEY.md §2.7 T8): tumbling
    * window counts/sums over an event stream.
    */
  def windowedEventAgg(events: DataFrame, tsCol: String, window_ : String,
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Session-window aggregation in the STREAM (the stateful sibling of
    * the batch qs03): sessions stay open in the state store while events
    * keep arriving within the gap, and a session emits (append mode)
    * once the watermark passes its end — the engine merges windows and
    * expires state, no custom state code.
    */
  def sessionizedEventAgg(events: DataFrame, tsCol: String, keyCol: String,
      gap: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap).as("w"))
      .agg(count(lit(1)).as("n"))
}
