package perfbench

/** The metric catalogue. BENCHMARK.json declares the same names and units;
  * MetricsSpec holds the two together.
  */
object Metrics {
  final case class M(name: String, unit: String)

  /** Printed by every untraced run, whatever the workload. */
  val EndToEnd: Vector[M] = Vector(
    M("setup_s", "s"),
    M("throughput_per_s", "1/s"),
    M("latency_ms_p50", "ms"),
    M("read_ms_p50", "ms"),
    M("batch_s", "s"),
    M("cpu_s", "s"))

  /** The batch query list of `sf01_corpus`, in run order. */
  val Queries: Vector[String] = Vector(
    "q18_rank_standings", "q37_asof_join", "qd04_langid",
    "qd80_quality_classifier_score", "qr06_tfidf_keywords")

  /** Printed by every traced run; a layer the workload does not reach
    * reads 0.
    */
  val PerLayer: Vector[M] = Vector(
    M("ingest.trigger_ms_p50", "ms"), M("ingest.add_batch_ms_p50", "ms"),
    M("ingest.plan_ms_p50", "ms"), M("ingest.offsets_ms_p50", "ms"),
    M("ingest.commit_ms_p50", "ms"), M("ingest.rows_per_trigger", "count"),
    M("ingest.triggers", "count"), M("ingest.lag_records_max", "count"),
    M("f1ops.parse_derive_s", "s"), M("f1ops.parse_derive_cpu_s", "s"),
    M("sink.files_written", "count"), M("sink.bytes_written", "bytes"),
    M("serve.files_read", "count"), M("serve.rows_read", "count"),
    M("serve.shuffle_bytes", "bytes"), M("serve.cpu_s", "s"),
    M("curation.start_ms_p50", "ms"), M("curation.batch_ms_p50", "ms"),
    M("curation.add_batch_ms_p50", "ms"), M("curation.kept_ratio", "ratio"),
    M("curation.state_rows", "count"), M("curation.state_bytes", "bytes"),
    M("curation.bytes_written", "bytes"), M("curation.janino_compiles", "count"),
    M("corpus.bm25_ms_p50", "ms"), M("corpus.ann_ms_p50", "ms"),
    M("corpus.files_read", "count"), M("corpus.bytes_read", "bytes")) ++
    Queries.flatMap(q => Vector(M(s"query.$q.s", "s"), M(s"query.$q.cpu_s", "s"),
      M(s"query.$q.shuffle_bytes", "bytes"), M(s"query.$q.spill_bytes", "bytes"),
      M(s"query.$q.input_bytes", "bytes"))) ++
    Vector(
      M("spark.task_cpu_s", "s"), M("spark.gc_s", "s"), M("spark.shuffle_bytes", "bytes"),
      M("spark.spill_bytes", "bytes"), M("spark.tasks", "count"),
      M("gen.late_ms_max", "ms"))
}
