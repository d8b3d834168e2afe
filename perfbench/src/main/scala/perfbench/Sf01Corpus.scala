package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.sources.Tables
import graft.streaming.CorpusIngest

/** `sf01_corpus`: the sf0.1 fixture's document side, in three steps per
  * round. The documents with embeddings are replayed through the curation
  * sink on the AvailableNow restart cadence into a fresh corpus; keyword
  * and vector queries run over its sidecars; then a fixed list of batch
  * queries runs over the fixture tables, each into the `noop` sink.
  */
final class Sf01Corpus extends Workload {
  val Docs = 200
  val Batches = 2
  val WarmDocs = 40
  val QueriesPerKind = 3
  val K = 10
  val NProbe = 2

  private type Doc = (Long, String, Seq[Double])
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private var docs: Vector[Doc] = _
  private var schemas: Seq[String] = _
  private var bm25Terms: Vector[Vector[String]] = _
  private var annDocs: Vector[Doc] = _
  private var cents: DataFrame = _
  private var round = 0
  private val runIds = mutable.ArrayBuffer.empty[java.util.UUID]
  // (round, query, result fingerprint, rows)
  private val answers = mutable.ArrayBuffer.empty[(Int, String, String, Int)]
  private var compiles = 0L
  private var e2e = Map.empty[String, Double]

  def endToEnd: Map[String, Double] = e2e

  /** The fixture load: every table resolved through `sources.Tables`, the
    * replay input collected, and the seeded corpus queries drawn from it.
    */
  def prepare(c: Ctx, rep: Int): Unit = {
    import c.spark.implicits._
    val loadedSchemas = tables.map(t => Tables.load(c.spark, c.sfDir, t).schema.json)
    val emb = Tables.embeddings(c.spark, c.sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val loaded = Tables.documents(c.spark, c.sfDir).select(col("doc_id"), col("text"))
      .join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
      .orderBy(col("doc_id")).limit(Docs)
      .as[Doc].collect().toVector
    if (rep == 0) {
      docs = loaded
      schemas = loadedSchemas
      cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell_id"), col("embedding").as("centroid"))
      val rng = new SplittableRandom(c.seed)
      bm25Terms = Vector.fill(QueriesPerKind) {
        val words = docs(rng.nextInt(docs.size))._2.toLowerCase.split("[^a-z]+")
          .filter(_.length >= 4).distinct
        Vector.fill(3)(words(rng.nextInt(words.length))).distinct
      }
      annDocs = Vector.fill(QueriesPerKind)(docs(rng.nextInt(docs.size)))
    } else if (loaded != docs || loadedSchemas != schemas)
      c.mismatch("fixture load differs between set-ups")
  }

  /** Replays `in` in `batches` restarts into a fresh corpus; returns its
    * wall ms.
    */
  private def replay(c: Ctx, in: Vector[Doc], batches: Int, parent: Int): Double = {
    import c.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = c.spark.sqlContext
    val (corpus, cp) = (c.fresh(s"corpus-$round"), c.fresh(s"curation-cp-$round"))
    val ms = MemoryStream[Doc]
    val t0 = System.nanoTime()
    in.grouped((in.size + batches - 1) / batches).foreach { g =>
      c.spans.time("curation.batch", parent) { id =>
        ms.addData(g)
        val q = c.spans.time("curation.start", id) { _ =>
          CorpusIngest.startCurationSink(ms.toDF().toDF("doc_id", "text", "embedding"),
            corpus.toString, cp.toString, cents)
        }
        q.awaitTermination()
        runIds += q.runId
        c.op(q.exception.isEmpty, s"curation batch failed: ${q.exception}")
      }
    }
    (System.nanoTime() - t0) / 1e6
  }

  /** The first `n` keyword and `n` vector queries over this round's corpus. */
  private def corpusQueries(c: Ctx, n: Int, parent: Int): Unit = {
    import c.spark.implicits._
    val corpus = c.work.resolve(s"corpus-$round").toString
    // the curation sink keeps no postings; BM25 needs them built once
    c.inGroup("corpus-index") {
      c.spans.time("corpus.index", parent) { _ => CorpusIngest.buildPostingsIndex(c.spark, corpus) }
    }
    c.inGroup("corpus") {
      bm25Terms.take(n).zipWithIndex.foreach { case (terms, i) =>
        val rows = c.spans.time("corpus.bm25", parent) { _ =>
          CorpusIngest.bm25OverCorpus(c.spark, corpus, terms.map((i, _)).toDF("query_id", "term"),
            "query_id", "term", K).collect().toSeq
        }
        answers += ((round, s"bm25-$i", Harness.fingerprint(rows), rows.size))
      }
      annDocs.take(n).zipWithIndex.foreach { case (d, i) =>
        val rows = c.spans.time("corpus.ann", parent) { _ =>
          CorpusIngest.annOverCorpus(c.spark, corpus, Seq((d._1, d._3)).toDF("doc_id", "embedding"),
            "doc_id", "embedding", cents, K, NProbe).collect().toSeq
        }
        answers += ((round, s"ann-$i", Harness.fingerprint(rows), rows.size))
      }
    }
  }

  /** One pass of the batch query list, each query to the `noop` sink. */
  private def batchPass(c: Ctx, parent: Int): Unit = c.spans.time("batch.pass", parent) { id =>
    Metrics.Queries.foreach { q =>
      val ok = c.inGroup(s"q:$q") {
        c.spans.time(s"query.$q", id) { _ =>
          try {
            SparkEntry.queries(q)(c.spark, c.sfDir).write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Exception => System.err.println(s"$q failed: $e"); false }
        }
      }
      c.op(ok, s"$q failed")
    }
  }

  /** A small replay and one query of each kind; then the batch list once,
    * which doubles as its output check: each result must match the
    * fingerprint pinned from the seed code.
    */
  def warm(c: Ctx): Unit = {
    replay(c, docs.take(WarmDocs), Batches, 0)
    corpusQueries(c, 1, 0)
    Harness.rmrf(c.work.resolve(s"corpus-$round"))
    answers.clear()
    runIds.clear()
    Metrics.Queries.foreach { q =>
      val fp = Harness.fingerprint(SparkEntry.queries(q)(c.spark, c.sfDir))
      c.op(Pinned.Queries.get(q).contains(fp),
        s"$q fingerprint $fp differs from the pinned ${Pinned.Queries.get(q)}")
    }
  }

  def run(c: Ctx): Unit = {
    val replayMs = mutable.ArrayBuffer.empty[Double]
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val rounds = c.rounds { (n, id) =>
      round = n + 1
      replayMs += replay(c, docs, Batches, id)
      corpusQueries(c, QueriesPerKind, id)
      batchPass(c, id)
    }
    compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    val readMs = c.spans.ms("corpus.bm25") ++ c.spans.ms("corpus.ann")
    val passS = c.spans.ms("batch.pass").map(_ / 1e3)
    // a doc waits for its whole micro-batch, start to termination, and the
    // batches are of equal size, so the per-doc median is the per-batch one
    val batchMs = c.spans.ms("curation.batch")
    c.note("curation_docs_per_s", Docs / (Stats.median(replayMs.toSeq) / 1e3), "docs/s")
    c.note("corpus_query_ms_p50", Stats.median(readMs), "ms")
    c.note("queries_total_s", Stats.median(passS), "s")
    e2e = Map(
      "throughput_per_s" -> Docs / (Stats.median(replayMs.toSeq) / 1e3),
      "latency_ms_p50" -> Stats.median(batchMs),
      "read_ms_p50" -> Stats.median(readMs),
      "batch_s" -> Stats.median(passS),
      "cpu_s" -> Stats.median(rounds.map(_._2 / 1e9)))
  }

  def check(c: Ctx): Unit = {
    val rounds = round
    val kept = (1 to rounds).map { n =>
      val corpus = c.work.resolve(s"corpus-$n")
      val fp = Harness.fingerprint(c.spark.read.parquet(corpus.toString).select("doc_id"))
      c.op(fp == Pinned.CurationKeepers,
        s"round $n keeper set $fp differs from the pinned ${Pinned.CurationKeepers}")
      fp.takeWhile(_ != ':').toDouble
    }
    answers.groupBy(_._2).foreach { case (q, as) =>
      c.op(as.map(_._3).distinct.size == 1, s"corpus query $q answered differently across rounds")
      if (q.startsWith("ann"))
        c.op(as.forall(_._4 == K), s"corpus query $q returned fewer than $K neighbours")
    }
    if (c.traced) {
      val ps = runIds.toVector.flatMap(c.progress.of)
      val lastPerRun = runIds.toVector.flatMap(c.progress.of(_).lastOption)
      val filesRead = (1 to rounds).map(n =>
        Harness.files(c.work.resolve(s"corpus-$n"), ".parquet").toDouble)
      c.layers ++= Seq(
        "curation.start_ms_p50" -> Stats.median(c.spans.ms("curation.start")),
        "curation.batch_ms_p50" -> Stats.median(c.spans.ms("curation.batch")),
        "curation.add_batch_ms_p50" -> Stats.median(ps.map(_.duration("addBatch"))),
        "curation.kept_ratio" -> Stats.median(kept) / Docs,
        "curation.state_rows" -> Stats.median(lastPerRun.map(
          _.p.stateOperators.map(_.numRowsTotal).sum.toDouble)),
        "curation.state_bytes" -> Stats.median(lastPerRun.map(
          _.p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)),
        "curation.bytes_written" ->
          runIds.map(id => c.tasks.get.group(id.toString).outputBytes).sum.toDouble / rounds,
        "curation.janino_compiles" -> compiles.toDouble / rounds,
        "corpus.bm25_ms_p50" -> Stats.median(c.spans.ms("corpus.bm25")),
        "corpus.ann_ms_p50" -> Stats.median(c.spans.ms("corpus.ann")),
        "corpus.files_read" -> Stats.median(filesRead),
        "corpus.bytes_read" -> c.tasks.get.group("corpus").inputBytes.toDouble / answers.size)
      Metrics.Queries.foreach { q =>
        val t = c.tasks.get.group(s"q:$q")
        c.layers ++= Seq(
          s"query.$q.s" -> Stats.median(c.spans.ms(s"query.$q")) / 1e3,
          s"query.$q.cpu_s" -> t.cpuNs / 1e9 / rounds,
          s"query.$q.shuffle_bytes" -> t.shuffleBytes.toDouble / rounds,
          s"query.$q.spill_bytes" -> t.spillBytes.toDouble / rounds,
          s"query.$q.input_bytes" -> t.inputBytes.toDouble / rounds)
      }
    }
    (1 to rounds).foreach { n =>
      Harness.rmrf(c.work.resolve(s"corpus-$n"))
      Harness.rmrf(c.work.resolve(s"curation-cp-$n"))
    }
  }
}
