package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.{GenerateExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.NativeExpressions.{FlatJsonExpr, flatJson}
import graft.model.Schemas
import graft.ops.F1Ops
import graft.streaming.RaceIngest

/** The F1 parse kernel ([[FlatJsonExpr]]) against a plain `from_json`
  * parse, row for row, and the plans that must parse each record once.
  */
class ParseKernelSpec extends SparkSpec {
  import ParseParity._

  private val full =
    """{"grand_prix":"Monaco","date":"2023-03-05T01:00:00+00:00","driver_number":"44",""" +
      """"position":3,"laps_completed":57,"dnf":false,"gap_to_leader":"+9.123",""" +
      """"meeting_key":"m41-2","session_key":"s41-7","due_ms":12500}"""

  /** (record, whether the kernel answers it itself). */
  private val battery: Seq[(String, Boolean)] = Seq(
    full -> true,
    "{}" -> true,
    " \t{\"position\":3}\r\n " -> true,
    "{\t\"position\"\r:\n1 ,\"dnf\" : true }" -> true,
    """{"position":-5,"laps_completed":0}""" -> true,
    """{"position":999999999,"laps_completed":-999999999}""" -> true,
    """{"position":null,"dnf":null,"grand_prix":null}""" -> true,
    """{"dnf":false,"grand_prix":"","gap_to_leader":"a b ~ {}[],:"}""" -> true,
    """{"x":"y","x":7,"x":null,"position":1}""" -> true,
    // blanks: from_json gives a null struct, not an all-null one
    "" -> false,
    "   " -> false,
    // wrong token shapes for a field, with from_json's partial results
    """{"position":"3"}""" -> false,
    """{"position":1.0}""" -> false,
    """{"position":01}""" -> false,
    """{"position":true}""" -> false,
    """{"position":2147483647}""" -> false,
    """{"position":1234567890}""" -> false,
    """{"position":12345678901}""" -> false,
    """{"position":-0}""" -> false,
    """{"position":-}""" -> false,
    """{"position":+1}""" -> false,
    """{"position":1e3}""" -> false,
    """{"position":NaN}""" -> false,
    """{"dnf":1,"position":2}""" -> false,
    """{"dnf":"true"}""" -> false,
    """{"dnf":truex}""" -> false,
    """{"dnf":tru}""" -> false,
    """{"grand_prix":5,"position":2}""" -> false,
    """{"grand_prix":true}""" -> false,
    // structure the kernel leaves to Jackson
    """{"position":1,"position":2}""" -> false,
    """{"position":1,"x":{"a":1}}""" -> false,
    """{"x":[1,2],"position":3}""" -> false,
    """{"position":[1]}""" -> false,
    """{"grand_prix":"Sa\"o","position":1}""" -> false,
    "{\"grand_prix\":\"\\u00e9\",\"position\":1}" -> false,
    "{\"gra\\u006ed_prix\":\"X\"}" -> false,
    "{\"grand_prix\":\"São Paulo\",\"position\":1}" -> false,
    "{\"grand_prix\":\"a\tb\"}" -> false,
    "{\"grand_prix\":\"a\u007fb\"}" -> false,
    """{'position':1}""" -> false,
    """{"grand_prix":'x',"position":1}""" -> false,
    """{position:1}""" -> false,
    "\uFEFF{\"position\":1}" -> false,
    "{\f\"position\":1}" -> false,
    """{"position" 1}""" -> false,
    """{"position":1,}""" -> false,
    """{"position":1} x""" -> false,
    """{"position":1}//c""" -> false,
    """{"position":1}{"position":2}""" -> false,
    "{\"position\":1}\n{\"position\":2}" -> false,
    """[{"position":1}]""" -> false,
    "3" -> false,
    "null" -> false,
    "\"x\"" -> false,
    // an unknown field Jackson refuses (number over its 1,000-char limit)
    // or accepts (a long string): both sit in records of 1,000+ bytes
    s"""{"position":4,"x":${"1" * 1001}}""" -> false,
    s"""{"position":4,"x":"${"a" * 1001}"}""" -> false,
  ) ++
    // the generator's truncated lines: every proper prefix of a record
    (1 until full.length).map(n => full.substring(0, n) -> false)

  test("flat JSON kernel equals from_json row for row on the exactness battery, with no task failure") {
    val records = battery.map(r => Some(r._1)) :+ None
    for (mode <- Seq("codegen", "interpreted")) {
      val confs = if (mode == "codegen") Nil
        else Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      val ((pairs, (kernelRows, plainRows)), failed) = withSQLConf(confs: _*)(withFailedTasks(spark) {
        (parses(spark, records), parsedRows(spark, records))
      })
      assert(failed === 0, mode)
      pairs.zip(records).foreach { case ((k, p), r) => assert(k === p, s"$mode: $r") }
      assert(kernelRows === plainRows, mode)
    }

    val kernel = kernelOf(spark)
    battery.foreach { case (r, owned) =>
      assert((kernel.scan(UTF8String.fromString(r)) != null) === owned, r)
    }

    // the cases whose from_json result the kernel must not guess
    val plain = parses(spark, Seq(
      """{"dnf":1,"position":2}""",
      s"""{"position":4,"x":${"1" * 1001}}""",
      """{"position":1}{"position":2}""",
      "",
    ).map(Some(_))).map(_._2)
    val position = Schemas.raceResultMessage.fieldIndex("position")
    assert(plain(0).get(position) === 2)
    assert(plain(1).toSeq.forall(_ == null))
    assert(plain(2).get(position) === 1)
    assert(plain(3) === null)
  }

  test("RaceIngest.transform parses each record once: one codegen'd kernel, no from_json in the executed plan") {
    val src = tmpDir("parse-once")
    java.nio.file.Files.write(java.nio.file.Paths.get(src, "part-0.jsonl"),
      (Seq(full, """{"position":null}""", "not json") ++ battery.map(_._1).filterNot(_.contains("\n")))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    val raw = spark.read.text(src)
    val out = RaceIngest.transform(raw)
    assert(parseCounts(out) === (1, 0))
    // and the parse runs inside the generated code, not as an island
    assert(out.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
      .exists(_.child.exists(_.isInstanceOf[GenerateExec])))
    val rows = out.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Any]("position") != null))
    assert(out.schema === Schemas.raceResults)

    // the audited parse keeps Spark's from_json, once per record, on both
    // sides of the dead-letter split
    val (clean, dead) = F1Ops.splitDeadLetters(F1Ops.parseRaceJsonAudited(raw))
    assert(parseCounts(clean) === (0, 1))
    assert(parseCounts(dead) === (0, 1))
    assert(clean.count() + dead.count() === raw.count())
  }

  /** (kernels, `from_json`s) in `df`'s executed plan's expressions. */
  private def parseCounts(df: DataFrame): (Int, Int) = {
    val exprs = df.queryExecution.executedPlan.flatMap(_.expressions)
    (exprs.map(_.collect { case k: FlatJsonExpr => k }.size).sum,
      exprs.map(_.collect { case j: JsonToStructs => j }.size).sum)
  }
}

/** Kernel-versus-`from_json` comparisons shared by the battery and the
  * property check.
  */
object ParseParity {

  private val rowSchema = StructType(Seq(
    StructField("id", IntegerType, nullable = false), StructField("value", StringType)))

  /** `records` as an RDD-backed frame, so plans run in tasks. */
  private def frame(spark: SparkSession, records: Seq[Option[String]], partitions: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      records.zipWithIndex.map { case (r, i) => Row(i, r.orNull) }, partitions), rowSchema)

  private def plain = from_json(col("value"), Schemas.raceResultMessage)

  /** Per record, in order: (kernel struct, plain `from_json` struct),
    * each computed by its own query.
    */
  def parses(spark: SparkSession, records: Seq[Option[String]]): Seq[(Row, Row)] = {
    val df = frame(spark, records, 4)
    def run(c: org.apache.spark.sql.Column): Seq[Row] =
      df.select(col("id"), c).collect().sortBy(_.getInt(0)).map(_.getStruct(1)).toSeq
    run(flatJson(col("value"), Schemas.raceResultMessage)).zip(run(plain))
  }

  /** [[F1Ops.parseRaceJson]]'s rows and `from_json`'s flattened rows, in
    * input order (one partition).
    */
  def parsedRows(spark: SparkSession, records: Seq[Option[String]]): (Seq[Row], Seq[Row]) = {
    val df = frame(spark, records, 1)
    (F1Ops.parseRaceJson(df).collect().toSeq,
      df.select(plain.as("data")).select("data.*").collect().toSeq)
  }

  /** The kernel [[F1Ops.parseRaceJson]] plans, analyzed. */
  def kernelOf(spark: SparkSession): FlatJsonExpr =
    F1Ops.parseRaceJson(frame(spark, Nil, 1)).queryExecution.executedPlan
      .flatMap(_.expressions).flatMap(_.collect { case k: FlatJsonExpr => k }).head

  /** `body`'s value and the number of tasks that failed while it ran. */
  def withFailedTasks[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val failed = new AtomicInteger
    @volatile var drained = false
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != Success) failed.incrementAndGet()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == "parse-sentinel") drained = true
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      // the listener bus delivers in order: once the sentinel job's start
      // arrives, every task of `body` has arrived before it
      sc.setJobGroup("parse-sentinel", "parse-sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      assert(drained)
      (out, failed.get())
    } finally sc.removeSparkListener(listener)
  }
}
