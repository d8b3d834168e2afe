package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.NativeExpressions
import graft.model.Schemas

/** The reference's operator surface as composable, individually testable
  * `DataFrame => DataFrame` transforms (SURVEY.md §2, §7.1). Each function
  * cites the reference behavior it re-expresses; all of them compile to
  * plain Catalyst plans (no UDFs, no collects) so predicate pushdown,
  * column pruning, whole-stage codegen and AQE apply unchanged at any
  * scale.
  */
object F1Ops {

  // ---------------------------------------------------------------- scalar

  /** P4 — the F1 points CASE ladder (reference: spark_ingestion.py:95–107;
    * semantics README.md:37). Pure `when` chain → constant-foldable,
    * codegen'd, null-safe (`otherwise(0)` covers NULL and >10 positions —
    * matching the reference, which only assigns points to finished top-10).
    */
  def pointsLadder(position: Column): Column = {
    val ladder = Seq(1 -> 25, 2 -> 18, 3 -> 15, 4 -> 12, 5 -> 10,
      6 -> 8, 7 -> 6, 8 -> 4, 9 -> 2, 10 -> 1)
    ladder.foldLeft(null.asInstanceOf[Column]) { case (acc, (pos, pts)) =>
      if (acc == null) when(position === pos, pts)
      else acc.when(position === pos, pts)
    }.otherwise(0)
  }

  /** P10+P11 — win-rate derivation `round(wins / total * 100, 2)`
    * (reference: streamlit-app.py:57–58).
    */
  def winRate(wins: Column, totalRaces: Column): Column =
    round(wins.cast("double") / totalRaces.cast("double") * 100d, 2)

  /** Exact, order-independent sum of a 2-decimal monetary double: cast to
    * decimal first so the aggregation is associative (no float summation
    * order sensitivity at 1000-executor scale), surface as double.
    */
  def moneySum(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast("double")

  // ---------------------------------------------------------------- filters

  /** P6/T9 — completeness filter: only finished classifications reach the
    * sink / the standings (reference: spark_ingestion.py:113; README.md:62).
    */
  def finishedOnly(df: DataFrame, position: String = "position"): DataFrame =
    df.filter(col(position).isNotNull)

  // ---------------------------------------------------------------- dedup

  /** J4 — deterministic first-wins dedup of a dimension feed (reference:
    * kafka_producer.py:34–41 keeps the first record per driver_number with
    * a `seen` set). `dropDuplicates` alone is arrival-order dependent in a
    * distributed shuffle, so the deterministic equivalent pins "first" with
    * `row_number` over an explicit arrival-order key.
    */
  def firstWinsDedup(df: DataFrame, key: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // ---------------------------------------------------------------- joins

  /** J1 — fact ⋈ dim left equi-join (reference: streamlit-app.py:41).
    * The dimension is tiny (≲100 rows in the reference; ≤10k at any real
    * scale) → broadcast explicitly so the plan never shuffles the fact side.
    */
  def enrichWithDim(fact: DataFrame, dim: DataFrame, key: String): DataFrame =
    fact.join(broadcast(dim), Seq(key), "left")

  /** J2/J3 — lookup join with default (reference: kafka_producer.py:115,125
    * `meetings.get(k, "Inconnu")`; streamlit-app.py:56
    * `victory_count.get(x, 0)`). A dict-probe-with-default is a broadcast
    * left join + coalesce, not a UDF.
    */
  def lookupWithDefault(df: DataFrame, lookup: DataFrame, key: String,
      valueCol: String, default: Column): DataFrame =
    df.join(broadcast(lookup), Seq(key), "left")
      .withColumn(valueCol, coalesce(col(valueCol), default))

  // ---------------------------------------------------------------- serving

  /** A1 — wins per driver: filter position==1, grouped count (reference:
    * streamlit-app.py:47–48). Map-side partial agg + final agg, one shuffle
    * on the group key.
    */
  def wins(results: DataFrame, key: String = "driver_number",
      position: String = "position"): DataFrame =
    results.filter(col(position) === 1).groupBy(key).agg(count(lit(1)).as("wins"))

  /** §3.2 flagship — championship standings (reference: streamlit-app.py:41–60):
    * fact ⋈ dim left join, grouped points sum, conditional wins count,
    * win-rate derivation, points-desc sort with a deterministic tie-break
    * (SURVEY.md §2.5 caveat). One shuffle (group key), dim broadcast.
    */
  def standings(results: DataFrame, drivers: DataFrame, totalRaces: Column): DataFrame =
    enrichWithDim(results, drivers, "driver_number")
      .groupBy("driver_number", "driver_name", "headshot_url")
      .agg(
        sum("points").as("points"),
        sum(when(col("position") === 1, 1).otherwise(0)).as("wins"))
      .withColumn("win_rate", winRate(col("wins"), totalRaces))
      .orderBy(col("points").desc, col("driver_number"))

  /** O2 — podium: top-3 of the standings (reference: streamlit-app.py:129).
    * Catalyst plans `TakeOrderedAndProject` — no global sort materialized.
    */
  def podium(standings: DataFrame): DataFrame = standings.limit(3)

  /** A5 — season-complete gate (reference: streamlit-app.py:65;
    * README.md:63): championship is official only once `totalRaces >= n`.
    */
  def seasonComplete(totalRaces: Column, threshold: Int = 22): Column =
    when(totalRaces >= threshold, lit("complete")).otherwise(lit("in_progress"))

  // ---------------------------------------------------------------- parse

  /** P1+P2+P3 — Kafka value bytes → declared-schema struct → flat columns
    * (reference: spark_ingestion.py:91–93). Narrow, no shuffle, whole-stage
    * codegen'd, one parse per record. The parse is
    * [[NativeExpressions.FlatJsonExpr]], a one-pass byte kernel with
    * Spark's `from_json` as its fallback. The kernel answers a record
    * that is one flat object of escape-free printable-ASCII strings, ints
    * of at most 9 digits, booleans and nulls, each of its field's type,
    * with no field twice, nothing but whitespace after it, and under
    * 1,000 bytes (Jackson's number length limit). Every other record goes
    * to `from_json` unchanged, so the rows equal a plain `from_json`
    * parse. `from_json` alone is a `CodegenFallback`, which keeps its
    * whole plan node out of whole-stage codegen. The parse is evaluated
    * [[once]] per record, so the completeness filter does not parse again.
    */
  def parseRaceJson(raw: DataFrame, valueCol: String = "value"): DataFrame =
    once(raw, NativeExpressions.flatJson(col(valueCol).cast("string"), Schemas.raceResultMessage))

  /** The fields of `struct` as columns, with `struct` evaluated once per
    * row. A Filter on a field of a projected expression is pushed below
    * the Project by inlining the expression into it, so a filter on a
    * parsed field parses the record a second time; behind a Generate
    * (`inline` of a one-element array), a filter on its output stays
    * above it.
    */
  private def once(raw: DataFrame, struct: Column): DataFrame =
    raw.select(inline(array(struct)))

  /** [[parseRaceJson]] with corrupt-record accounting. The plain parse
    * silently degrades undecodable payloads (Spark's `from_json` returns
    * an all-null struct for malformed JSON, indistinguishable from a
    * legitimately empty record); this variant parses with PERMISSIVE mode
    * and a `_corrupt_record` column — the engine's own malformed-input
    * channel — so every row carries `parse_ok` plus its raw payload, and
    * a production ingest can count failures and dead-letter them instead
    * of losing data invisibly (at 100 TB a silent 0.1% drop is a
    * gigabyte-scale hole). Still a narrow map, parsed [[once]] per record
    * however the split filters it.
    */
  def parseRaceJsonAudited(raw: DataFrame, valueCol: String = "value"): DataFrame = {
    val audited = Schemas.raceResultMessage
      .add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val payload = col(valueCol).cast("string")
    once(raw, struct(payload.as("raw_payload"),
        from_json(payload, audited,
          Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_corrupt_record")).as("data")))
      // a null payload makes from_json return a null struct (so
      // _corrupt_record is null too) — require a non-null payload or the
      // tombstone lands in the clean split as an all-null row
      .withColumn("parse_ok",
        col("raw_payload").isNotNull && col("data._corrupt_record").isNull)
      .select(col("parse_ok") +: col("raw_payload") +:
        Schemas.raceResultMessage.fieldNames.toIndexedSeq.map(f => col(s"data.$f")): _*)
  }

  /** Split an audited parse into (clean rows, dead letters). */
  def splitDeadLetters(audited: DataFrame): (DataFrame, DataFrame) = (
    audited.filter(col("parse_ok")).drop("parse_ok", "raw_payload"),
    audited.filter(!col("parse_ok")).select(col("raw_payload")))

  /** P4+P5+P6 — the derivation chain the streaming job applies per batch
    * (reference: spark_ingestion.py:95–113): points ladder, ISO-8601 →
    * timestamp (session TZ pinned UTC), completeness filter.
    */
  def deriveRace(parsed: DataFrame): DataFrame =
    parsed
      .withColumn("points", pointsLadder(col("position")))
      .withColumn("date", to_timestamp(col("date")))
      .filter(col("position").isNotNull)
}
