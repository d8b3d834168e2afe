package perfbench

/** Output fingerprints pinned from the engine at the commit that added
  * the benchmark: "rows:hash", as `Harness.fingerprint` computes them.
  */
object Pinned {
  /** The doc ids the curation sink keeps from the replay input (the first
    * 200 sf0.1 documents with embeddings, in two batches).
    */
  val CurationKeepers = "144:62294266129774467314"

  val Queries: Map[String, String] = Map(
    "q18_rank_standings" -> "1000:179825503194698051410",
    "q37_asof_join" -> "18574:-874487447457649631311",
    "qd04_langid" -> "5000:-95528705160994357980",
    "qd80_quality_classifier_score" -> "5000:594863101009241319217",
    "qr06_tfidf_keywords" -> "15000:-142019340171305578787")
}
