package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":…,"queries":{…}}. Config mirrors the
  * scale posture (AQE on, shuffle partitions = cores, explicit broadcast
  * thresholds) — local[32] stands in for a multi-executor cluster.
  */
object Bench {
  /** Headline set: the flagship join+agg, the heaviest scans, the dedup
    * and similarity pipelines — the queries whose plans decide 100 TB
    * behavior. (Cheap point-lookups excluded: they only measure overhead.)
    */
  val headline: Seq[String] = Seq(
    "q01_standings", "q02_points_ladder", "q08_fact_dim_join",
    "q09_dedup_first", "q18_rank_standings",
    "q21_region_rollup", "q22_window_monthly", "q26_rollup",
    "q31_topk_per_group", "q37_asof_join", "q38_sliding_window",
    "q40_range_join", "q41_topk_aggregator", "q44_range_count",
    "qd01_exact_dedup", "qd02_token_count", "qd03_quality", "qd04_langid",
    "qd05_fingerprint", "qd08_simhash", "qd09_minhash_neardups",
    "qd10_corpus_pipeline", "qd11_minhash_neardups_fast",
    "qd12_simhash_neardups", "qd13_chunking", "qd14_neardup_clusters",
    "qd19_pretraining_pipeline", "qd21_simhash_neardups_portable",
    "qd22_decontaminate", "qd24_sequence_packing", "qd26_incremental_dedup",
    "qd27_mix_pipeline", "qd28_vocab", "qd29_unigram_logprob", "qd30_dsir",
    "qd31_wordpiece", "qd32_dup_passages", "qd33_curation_pipeline",
    "qd34_scrub_spans", "qd35_dup_ngram_frac", "qd36_dsir_fast",
    "qd37_incremental_neardup", "qd38_contamination_report",
    "qd39_gopher_filter", "qd40_corpus_datacard", "qd41_source_overlap",
    "qd42_curriculum_buckets", "qd43_source_overlap_fast", "qd45_fuzzy_decontaminate",
    "qd48_normalize_text", "qd49_compression_ratio", "qd50_temperature_mix",
    "qd44_source_overlap_sketch", "qr01_bm25_topk", "qr02_bm25_sidecar",
    "qr03_hybrid_sidecar",
    "qe01_cosine_topk", "qe02_knn_join", "qe03_ann_lsh",
    "qe08_ivf_ann_oracle", "qe10_semantic_dedup", "qe11_quantized_ivf",
    "qe12_pq_ann", "qe13_ivfpq_ann", "qe14_pq_ann_learned", "qe15_mrl_rerank",
    "qe16_hybrid_rrf", "qe17_cluster_cap_sample", "qe18_ivf_mrl_funnel",
    "qe19_ann_sidecar", "qe20_kmeans_fit", "qe21_class_mean",
    "qe22_source_affinity", "qe23_kmeans_ivf", "qe24_semantic_decontaminate",
    "qe25_cell_stats", "qe26_random_projection", "qe27_embedding_outliers",
    "qd51_winnowing", "qd52_corpus_diff", "qd53_containment",
    "qd54_min_k_prob", "qd55_ngram_diversity", "qd56_source_containment",
    "qd57_stream_packing", "qd58_winsorize", "qd59_containment_fast",
    "qd60_collocations", "qd61_full_pipeline", "qd65_full_pipeline_fast",
    "qd62_bigram_nll_gate",
    "qd63_quality_keepers", "qd64_zipf_fit", "qd66_curriculum_packing",
    "qd67_bpe_train", "qd68_bpe_encode",
    "qd69_unigram_train", "qd70_unigram_fertility", "qd71_mix_waterfill",
    "qd72_lsh_recall_probe", "qe29_ann_recall_probe", "qd73_bpe_packing",
    "qd74_bpe_train_fast", "qe30_ivf_size_nprobe",
    "qd75_temperature_waterfill", "qd76_bpe_encode_ids",
    "qd77_unigram_encode_ids", "qd78_kn_bigram_nll",
    "qd79_quality_classifier_train", "qd80_quality_classifier_score",
    "qd81_quality_classifier_auc", "qd82_classifier_calibration",
    "qd83_classifier_calib_metrics", "qd84_heldout_auc",
    "qd85_epoch_allocation", "qd86_classifier_pr_curve",
    "qd87_classifier_avg_precision", "qd88_classifier_disagreement",
    "qd89_classifier_bigram_auc",
    "qd90_persisted_model_score", "qd91_l2_heldout_auc",
    "qd92_threshold_sweep", "qd93_calibration_by_source",
    "qd94_resume_training", "qd95_isotonic_calibration",
    "qe28_int4_fidelity",
    "qr07_retrieval_eval_summary", "qr08_retrieval_pipeline",
    "qr09_prf_expansion", "qr10_mmr_rerank",
    "qr04_retrieval_eval", "qr05_hard_negatives", "qr06_tfidf_keywords",
    "qm03_audio_decode",
    "q42_zorder", "qs01_hourly_events", "qs02_sessionize", "qs03_session_window")

  /** Per-query sf0.1 floor seconds. Used to emit `vs_floor` per query
    * and a mechanical `floor_breaches` list so steal-noise adjudication
    * needs no human diffing. A breach must be DOUBLE-CONFIRMED (the
    * round-13 lesson, mechanized): a query reading > 1.3× floor in a
    * quiet window (< 50 steal ticks per second of its own elapsed — an
    * absolute bound would make minute-long sf1 queries unflaggable)
    * becomes a CANDIDATE, is re-run
    * once more at end of suite (a third sample, a full sweep away from
    * the first two), and is flagged only when the confirm sample ALSO
    * exceeds 1.3× in a quiet window — all 7 of round 13's artifact
    * breaches were single-window noise on untouched code (sub-3 s
    * queries swing ±40% between zero-steal windows on this host), and
    * each cost a manual adjudication. Candidates and their confirm
    * samples are reported either way (`breach_candidates`,
    * `confirm_runs`), so a true breach arrives pre-confirmed with two
    * readings.
    *
    * PINNING PROTOCOL (round-12/13 lessons, encoded): pin ONLY from a
    * min-of-2 run of the whole suite in a clean window (< ~150
    * whole-run ticks) — isolated or mid-round subset windows under-read
    * by ~20–40% (warmer JIT, no suite memory pressure) — and multiply
    * the observed minimum by a 1.10 NOISE MARGIN before pinning: a raw
    * single-window minimum captures that window's luck as the floor
    * (round 13's re-pin moved qe26 −37% off one favorable window and
    * manufactured a phantom breach the next round). Queries without a
    * floor (new this round) are skipped — re-pin after each round's
    * clean run.
    *
    * Round-16 pin: base = min across the round's TWO full-suite
    * windows and the round-14 basis, × 1.10 — only ever downward (an
    * upward re-pin needs clean-window-confirmed elevation; nothing was
    * elevated). The second window was genuinely clean (150.2 s total,
    * 986 whole-run ticks ≈ 6.6/s — matching round-14's clean 150.3 s,
    * so two rounds are perf-flat) and tightened 29 floors up to 14%.
    * It also closed the round-15 artifact's qe21/qe25 watch items as
    * weather with final evidence: qe21 read 1.09× and qe25 1.18× in
    * this window (the verdict's own <1.25 close rule), after their
    * three-sample confirms had already read BELOW floor.
    *
    * Round-14 pin: base = min across the round's FOUR full-suite
    * windows and the round-13 clean minimum, × 1.10. The final window
    * was genuinely clean (150.3 s total, 448 whole-run ticks — matching
    * round 13's 149.7 s clean reading, so the round is perf-flat) and
    * tightened 51 floors. The qe26 saga, closed: its round-13 floor
    * (0.611) was a single-window artifact; two dirty round-14 windows
    * read it 1.75–1.94× and it was re-pinned UP to 1.176, but the clean
    * window read 0.862 s — within 2% of the round-12 basis — so the
    * final pin (0.948) lands back at the r12-era cost and the
    * intermediate "elevation" adjudicates as load, not plan. Lesson
    * encoded: an upward re-pin from dirty windows is provisional until
    * a clean window confirms it. qd19/qd37/qd38 (the round-13 open
    * adjudication) normalized: no re-pin, elevation was host drift.
    */
  /** Placement fingerprint every floor family below was calibrated
    * under (ADVICE r17 #4: the re-pin protocol was a one-way upward
    * ratchet — floors loosened 60–115% on a slow host re-placement
    * would silently tolerate a real regression if a later session
    * landed on a fast placement). The kernel boot id changes on every
    * host re-placement/reboot, which is exactly the event that
    * invalidates per-placement calibration: when the current boot id
    * differs from this pin, the bench still runs the full candidate/
    * confirm protocol but reports any verdicts under
    * `floor_breaches_stale_placement` (and `breach_stale_placement`
    * for the streaming twins) instead of `floor_breaches` — "the
    * floors predate this placement; re-pin before adjudicating",
    * machine-readable in the artifact either way via the
    * `floor_placement` object. Re-pinning floors on a new placement
    * means updating this id in the same commit.
    *
    * Round-18 pin: boot 60f5b14a — the post-reboot placement. Two
    * same-day full-suite windows (steal 31/44 ticks/s — co-tenant
    * load, not quiet) read vs_floor_total 1.04 with ZERO reproducible
    * breaches (w1's two marginal confirms died in w2), i.e. the
    * round-17 floor calibration carries to this placement; the
    * streaming/new-query pins below were re-taken here directly.
    *
    * Round-18 continuation pin: boot 531f5c45 — the host re-placed
    * again mid-round. Two full-suite windows on the new placement
    * (steal 77/88 ticks/s — dirty, but uniform) read vs_floor_total
    * 1.06 and 1.10 with ZERO confirmed breaches (every candidate died
    * on its confirm or in the other window) — the carried calibration
    * measures as placement-equivalent, so the floors stand and the
    * fingerprint moves with them. The six qd78–qd83 pins below are
    * cross-window minima × 1.10 from these (dirty) windows — biased
    * HIGH by the weather; re-pin DOWN at the next clean window.
    */
  /** Round-19 pin: boot ac147753 — the host re-placed again between
    * sessions. Placement equivalence evidence before re-pinning: the
    * round-start baseline sweep ON UNCHANGED CODE read vs_floor_total
    * 0.88 at 2.4 steal ticks/s against the 531f5c45 floors (zero
    * confirmed breaches, nine sub-second candidates all dead on
    * confirm), i.e. this placement is as-fast-or-faster — so carrying
    * the old pins downward-only is conservative. 65 sf0.1 floors then
    * re-pinned DOWN from min of the round's TWO post-optimization
    * full-suite windows (167.0 s at 2.0 ticks/s — genuinely clean —
    * and 171.9 s at 17/s) × 1.10: the big movers are the round's two
    * structural changes (zero-shuffle Gopher battery: qd39 0.22×,
    * qd35 0.33×; zero-exchange GD: classifier family 0.26–0.66×), the
    * rest single-digit placement tightenings. The 10 classifier-family
    * sf1 floors re-pinned from two dedicated /tmp/sf1 windows
    * (steal-gated launches; w1 per-query steal ≤ 8 ticks on everything
    * but qd78) — min-of-2 × 1.10; qd79 19.92→5.61, qd94 21.56→5.26:
    * the descent restructure compounds with scale (more rows per
    * iteration job saved). Streaming floors: total UNCHANGED at 17.5
    * (min window 16.03 × 1.10 = 17.6 — no downward room), band/assign/
    * write stage floors tightened from the two windows' stage minima ×
    * 1.25.
    */
  val floorPlacementBootId: Option[String] =
    Some("ac147753-9dd9-4d7d-9113-092cffd8a936")

  /** Core count every floor above/below is calibrated at (the pinning
    * windows all ran `local[32]`). Breach VERDICTS only fire when the
    * run's `SPARK_GRAFT_CPUS` matches — a lower-core run reads
    * compute-parallel queries legitimately over their 32-core floors
    * (scaling, not regression), so its confirmed readings route to
    * `floor_breaches_uncalibrated_cpus` the way foreign-placement
    * verdicts route to `_stale_placement`.
    */
  val FloorCalibrationCpus: Int = 32

  /** /proc/sys/kernel/random/boot_id — None when unreadable (non-Linux
    * dev box), which disables staleness routing rather than guessing.
    */
  private[graft] def currentBootId: Option[String] =
    try {
      val src = scala.io.Source.fromFile("/proc/sys/kernel/random/boot_id")
      try Some(src.getLines().next().trim).filter(_.nonEmpty)
      finally src.close()
    } catch { case _: Exception => None }

  val floors: Map[String, Double] = Map(
    // Round-20 final pass: two further full-suite windows (138.74 s at
    // 22 ticks/s; 125.64 s at 1.6/s — the cleanest window of the round,
    // zero candidates) fold into the same min x 1.10 — 58 more floors
    // down, incl. the WordHits-kernel movers (qd04 0.44x, qd40 0.52x).
    // Round-20 re-pin (downward only): min across the round's THREE
    // full-suite 32-core windows on the pinned placement (143.60 s at
    // 2.9 steal ticks/s, 133.39 s at 4.1/s, 143.19 s at 7.3/s — all
    // zero-confirmed-breach) x 1.10. 110 floors tightened: the round-20
    // structural movers (q40 0.19x, qr01 0.45x, qe16 0.46x, qr09 0.48x,
    // qd03 0.48x, qd90 0.52x registry fix) plus the round-19 rewires'
    // stale tripwires (qd78 0.44x, qd62 0.46x — verdict #2) and
    // single-digit placement tightenings across the board.
    // round-17 re-pin (downward only): min across the round's two clean
    // full-suite windows (136.0 s @ 8.9 ticks/s, 142.4 s @ 6.4/s) x 1.10
    // after the codegen-cache + artifact-isolation builder confs — 73 of
    // 106 floors tightened (qd36 0.62x, qd65 0.64x, qd59 0.65x ...).
    "q01_standings" -> 0.781, "q02_points_ladder" -> 0.595,
    "q08_fact_dim_join" -> 0.394, "q09_dedup_first" -> 0.248,
    "q18_rank_standings" -> 0.499, "q21_region_rollup" -> 0.882,
    "q22_window_monthly" -> 1.261, "q26_rollup" -> 1.459,
    "q31_topk_per_group" -> 0.831, "q37_asof_join" -> 0.53,
    "q38_sliding_window" -> 0.597, "q40_range_join" -> 0.493,
    "q41_topk_aggregator" -> 0.699, "qd01_exact_dedup" -> 0.268,
    "qd02_token_count" -> 0.15, "qd03_quality" -> 0.178,
    "qd04_langid" -> 0.23, "qd05_fingerprint" -> 0.244,
    "qd08_simhash" -> 0.18, "qd09_minhash_neardups" -> 1.641,
    "qd10_corpus_pipeline" -> 0.465, "qd11_minhash_neardups_fast" -> 0.506,
    "qd12_simhash_neardups" -> 0.509, "qd13_chunking" -> 0.276,
    "qd14_neardup_clusters" -> 2.17, "qd19_pretraining_pipeline" -> 0.531,
    "qd21_simhash_neardups_portable" -> 0.824, "qd22_decontaminate" -> 0.414,
    "qd24_sequence_packing" -> 0.234, "qd26_incremental_dedup" -> 0.359,
    "qd27_mix_pipeline" -> 0.692, "qd28_vocab" -> 0.209,
    "qd29_unigram_logprob" -> 0.759, "qd30_dsir" -> 1.425,
    "qd31_wordpiece" -> 0.355, "qd32_dup_passages" -> 0.823,
    "qd33_curation_pipeline" -> 2.936, "qd34_scrub_spans" -> 1.354,
    "qd35_dup_ngram_frac" -> 0.283, "qd36_dsir_fast" -> 0.876,
    "qd37_incremental_neardup" -> 1.223, "qd38_contamination_report" -> 0.36,
    "qd39_gopher_filter" -> 0.257, "qd40_corpus_datacard" -> 0.463,
    "qd41_source_overlap" -> 4.059, "qd42_curriculum_buckets" -> 0.744,
    "qd43_source_overlap_fast" -> 1.135, "qd45_fuzzy_decontaminate" -> 1.215,
    // qd49/qd51 re-pinned round 18 (downward): the sort-audit boundary
    // exchange stops the range-sampling pass from running the deflate/
    // winnow kernels twice — 0.354/0.359 and 0.435/0.487 s (per-query
    // steal 0/0 and 0/42), min x 1.10
    "qd48_normalize_text" -> 0.33, "qd49_compression_ratio" -> 0.244,
    "qd50_temperature_mix" -> 0.381, "qd44_source_overlap_sketch" -> 1.757,
    "qr01_bm25_topk" -> 0.739, "qr02_bm25_sidecar" -> 0.685,
    "qr03_hybrid_sidecar" -> 1.104, "qe01_cosine_topk" -> 0.173,
    "qe02_knn_join" -> 0.307, "qe03_ann_lsh" -> 0.292,
    "qe08_ivf_ann_oracle" -> 0.322, "qe10_semantic_dedup" -> 0.851,
    "qe11_quantized_ivf" -> 0.67, "qe12_pq_ann" -> 0.521,
    "qe13_ivfpq_ann" -> 0.593, "qe14_pq_ann_learned" -> 1.046,
    "qe15_mrl_rerank" -> 0.38, "qe16_hybrid_rrf" -> 1.012,
    "qe17_cluster_cap_sample" -> 0.313, "qe18_ivf_mrl_funnel" -> 0.342,
    "qe19_ann_sidecar" -> 0.54, "qe20_kmeans_fit" -> 0.516,
    "qe21_class_mean" -> 0.309, "qe22_source_affinity" -> 0.473,
    "qe23_kmeans_ivf" -> 0.518, "qe24_semantic_decontaminate" -> 0.398,
    "qe25_cell_stats" -> 0.548, "qe26_random_projection" -> 0.475,
    "qe27_embedding_outliers" -> 0.56, "qd51_winnowing" -> 0.353,
    "qd52_corpus_diff" -> 0.312, "qd53_containment" -> 6.479,
    "qd54_min_k_prob" -> 0.796, "qd55_ngram_diversity" -> 2.657,
    "qd56_source_containment" -> 3.49, "qd57_stream_packing" -> 0.529,
    "qd58_winsorize" -> 0.284, "qd59_containment_fast" -> 1.276,
    "qd60_collocations" -> 2.878, "qd61_full_pipeline" -> 10.55,
    "qd65_full_pipeline_fast" -> 2.305, "qd62_bigram_nll_gate" -> 2.688,
    "qd63_quality_keepers" -> 2.193, "qd64_zipf_fit" -> 0.56,
    "qd66_curriculum_packing" -> 1.017, "qe28_int4_fidelity" -> 0.597,
    // qd67/qd68 re-pinned round 18 (downward): min of the two full-suite
    // windows x 1.10 — 1.440/1.585 and 1.452/1.550 s, per-query steal
    // 51/7 and 1/14 ticks (quiet at the query even in dirty suites).
    // qd68's drop carries the BpeCountExpr kernel encode
    "qd67_bpe_train" -> 0.993, "qd68_bpe_encode" -> 1.131,
    // q44 pinned this round: two near-zero-steal subset windows
    // (1.07/1.069 s at steal 4/6) x 1.10
    "q44_range_count" -> 0.569,
    // qd69/qd70 pinned this round: two quiet subset windows
    // (1.249/1.245 and 1.411/1.410 s at steal 95/22) x 1.10
    "qd69_unigram_train" -> 0.591, "qd70_unigram_fertility" -> 0.73,
    // qd71 pinned this round: two near-zero-steal subset windows
    // (0.673/0.745 s at steal 9/4) x 1.10
    "qd71_mix_waterfill" -> 0.247,
    // qd72 pinned this round: two quiet subset windows (3.774/3.454 s
    // at steal 16/25) x 1.10 — the probe's all-pairs truth over the
    // 50% sample (~3M sorted-merge jaccards at sf0.1) is the cost
    "qd72_lsh_recall_probe" -> 2.731,
    // qe29 pinned this round: two near-zero-steal subset windows
    // (1.448/1.492 s at steal 8/10) x 1.10
    "qe29_ann_recall_probe" -> 0.667,
    // qd73 re-pinned round 18 (downward, 2.3x): the composition now
    // runs trainFast + the kernel encode — 0.897/0.904 s at 0/0
    // per-query steal in the two full-suite windows, x 1.10
    "qd73_bpe_packing" -> 0.797,
    // round-18 additions, pinned from the same two windows (min x 1.10;
    // per-query steal shown): qd74 0.319/1 0.265/0, qd75 0.576/0
    // 0.473/1, qe30 1.681/0 1.566/6
    "qd74_bpe_train_fast" -> 0.214,
    "qd75_temperature_waterfill" -> 0.364,
    "qe30_ivf_size_nprobe" -> 1.12,
    // qd76 pinned from full-suite window 3 (2.212 s at steal 2) and a
    // quiet subset window (2.541 s at steal 1) — min x 1.10
    "qd76_bpe_encode_ids" -> 2.005,
    // qd78–qd89 re-pinned after the Md5BucketTokens kernel switch
    // (per-token getInstance gone: family 6–11 s → 4.5–5.7 s) from a
    // QUIET 11-query subset window (84 total ticks); minima × 1.10 —
    // subset pins, re-base at the next clean full sweep
    "qd78_kn_bigram_nll" -> 2.768,
    "qd79_quality_classifier_train" -> 1.929,
    // round-19 downward re-pin of the eval family: the train-once memo
    // removed the shared 24-iter descent from the 8 eval queries
    // (verdict #3 — they now price eval-only, like production serving
    // under a frozen model), read in two quiet subset windows (per-query
    // steal ≤ 64 ticks; pre-launch 20 s probe < 10 ticks) — min × 1.10.
    // qd79 (honest Seed retrain) and qd89 (honest bigram descent) keep
    // their r18 pins: both read within 1.05–1.26× in the same windows
    "qd80_quality_classifier_score" -> 0.492,
    "qd81_quality_classifier_auc" -> 0.55,
    "qd82_classifier_calibration" -> 0.499,
    "qd83_classifier_calib_metrics" -> 0.527,
    "qd84_heldout_auc" -> 0.68,
    // qd85 pinned from a quiet subset window (1.44 s at 52 total ticks)
    "qd85_epoch_allocation" -> 0.467,
    "qd86_classifier_pr_curve" -> 0.606,
    "qd87_classifier_avg_precision" -> 0.544,
    "qd88_classifier_disagreement" -> 0.677,
    "qd89_classifier_bigram_auc" -> 1.706,
    // qd90/qd91 (round 19): persisted-model serving + L2 held-out —
    // pinned from the same two quiet windows
    "qd90_persisted_model_score" -> 0.745,
    "qd91_l2_heldout_auc" -> 0.517,
    // qd92/qd93 (round 19): threshold sweep + per-source calibration —
    // two further quiet subset windows (per-query steal ≤ 32 ticks)
    "qd92_threshold_sweep" -> 0.55,
    "qd93_calibration_by_source" -> 0.576,
    // qd94 (round 19): memo'd 12-iter half + save/load + fresh 12-iter
    // resume — two quiet-gated windows (6.64/7.33 s)
    "qd94_resume_training" -> 1.325,
    // qd95 (round 19): PAV calibration — two quiet-gated windows
    "qd95_isotonic_calibration" -> 0.587,
    // qd77 pinned from two quiet subset windows (2.254 s at steal 11,
    // 2.684 s at steal 2) — min x 1.10
    "qd77_unigram_encode_ids" -> 1.729,
    "qr07_retrieval_eval_summary" -> 1.176, "qr08_retrieval_pipeline" -> 2.039,
    "qr09_prf_expansion" -> 2.11, "qr10_mmr_rerank" -> 0.644,
    "qr04_retrieval_eval" -> 0.946, "qr05_hard_negatives" -> 0.87,
    "qr06_tfidf_keywords" -> 0.599, "qm03_audio_decode" -> 0.175,
    "q42_zorder" -> 0.277, "qs01_hourly_events" -> 0.31,
    "qs02_sessionize" -> 0.594, "qs03_session_window" -> 0.671
  )

  /** Per-query sf1 floor seconds for the top headline queries — the
    * 100×-scale tripwire (round-13 verdict: every sf1 reading lived as
    * prose in SCALE.md, so a scale-only regression — a plan that goes
    * quadratic with corpus size, a broadcast that silently flips to
    * SortMergeJoin past a threshold — had no mechanical check). Pinned
    * under the SAME protocol as [[floors]] (min-of-2 full-set clean
    * window × 1.10), applied when `SPARK_GRAFT_SF_DIR` ends in `sf1`;
    * queries not listed are timed but not floor-checked (sf1 sweeps of
    * the full 100-query suite are an occasional, not per-round, cost).
    */
  val floorsSf1: Map[String, Double] = Map(
    // Round-20 re-pin (downward only, verdict #7): two dedicated sf1
    // windows over the touched set (w1 steal 69k ticks total but
    // per-query ≤ 205 on the queries pinned from it — qd61 caught an
    // 18k-tick burst and pins from w2; w2 genuinely clean at 1639
    // ticks / ~7 min, per-query ≤ 45) — min-of-2 × 1.10. The big
    // movers are the round-19 rewires finally sf1-measured (qd39
    // 9.17→1.08: the zero-shuffle Gopher battery compounds at scale;
    // qd62 69.9→26.6, qd78 57.8→25.9: the TokenCounts/BigramCounts
    // doc-side kernels) and this round's BM25/tokenCount kernels
    // (qr09 7.74→3.78, qe16 3.54→1.87, qr04 3.55→1.99, qr08
    // 4.94→2.70) + the registry fix (qd90 5.63→3.52). Scale ratios at
    // pin time (sf1/sf0.1 for 10× docs): qd39 4.3×, qd62 9.9×,
    // qd78 9.1×, qr09 2.2×, qe16 2.3× — all sublinear-to-linear,
    // nothing near the ~12× follow-up bar.
    "qd61_full_pipeline" -> 19.542, "qd65_full_pipeline_fast" -> 5.380,
    "qd62_bigram_nll_gate" -> 26.618, "qd63_quality_keepers" -> 14.123,
    "qd39_gopher_filter" -> 1.080, "qd33_curation_pipeline" -> 2.936,
    "qr08_retrieval_pipeline" -> 2.699, "qe16_hybrid_rrf" -> 1.865,
    "qr04_retrieval_eval" -> 1.994, "qr09_prf_expansion" -> 3.775,
    "qd78_kn_bigram_nll" -> 25.892,
    "qd79_quality_classifier_train" -> 4.038,
    "qd80_quality_classifier_score" -> 3.465,
    "qd89_classifier_bigram_auc" -> 7.328,
    "qd90_persisted_model_score" -> 3.521,
    "qd91_l2_heldout_auc" -> 2.403,
    "qd92_threshold_sweep" -> 2.517,
    "qd93_calibration_by_source" -> 2.337,
    "qd94_resume_training" -> 3.420,
    "qd95_isotonic_calibration" -> 2.180,
    // round-15 re-pin (downward only — a too-high floor only loses
    // sensitivity, and an upward re-pin needs clean-window evidence
    // per the qe26 lesson): the sort-shuffle-writer change sped up the
    // exchange-heavy sf1 pipelines 15–30%, read in two clean windows
    // (steal 2.2/s and 9.5/s; zero breaches board-wide), so six floors
    // move down to reading × 1.10 (qd61 21.4 s, qd65 8.0, qd62 65.6,
    // qd63 17.6, qd53 74.8, qd41 44.3). qe28/qd66/qr09/qe14 read at or
    // above their round-14 floors in these windows and keep them.
    // round-17 re-pin of the carried ten (downward only): two quiet
    // sf1 windows (steal 5.9/s and 2.1/s) after the codegen-cache +
    // artifact-isolation confs — all ten tightened 3–33%
    // qe28 re-pinned again after the round-17 sort-first restructure
    // (orderBy used to range-sample the heavy quantize chain): sweep
    // windows read 1.49/1.02 s — a 1.46× spread on a ~1 s query, the
    // qe26 phantom-breach shape — so the pin takes the LESS lucky
    // clean window × 1.10 (1.64), not the absolute min
    "qd53_containment" -> 76.05, "qe28_int4_fidelity" -> 1.64,
    "qd66_curriculum_packing" -> 6.25,
    "qe14_pq_ann_learned" -> 2.76, "qd41_source_overlap" -> 42.45,
    // round-17 extension to the top-20 (verdict #7): the next-heaviest
    // sf0.1 queries pinned from two quiet sf1 windows (steal 2.4/s and
    // 10.9/s; per-query pair spreads ≤ 10%) — min-of-2 × 1.10
    "qd55_ngram_diversity" -> 39.56, "qd60_collocations" -> 38.58,
    "qd56_source_containment" -> 45.43, "qd14_neardup_clusters" -> 16.57,
    "qd44_source_overlap_sketch" -> 5.72,
    // round-19 extension (verdict #7): the classifier family + KN gate
    // pinned from two quiet sf1 windows (steal 2.4/s and 0.5/s on the
    // heavy qd78; pre-launch 20 s steal probe < 1/s) — min-of-2 × 1.10.
    // qd80/qd90/qd91 price the memo/persisted serving shape (no inline
    // descent); qd79/qd89 keep the honest full-descent cost. Scale
    // reads at pin time: qd78 8.7× for 10× (the family's grouped
    // bigram explode, linear), qd79 2.4×, qd80 5.6×, qd89 4.4×
    // qd92/qd93 from two further quiet sf1 windows (4.8×/6.0× their
    // sf0.1 readings for 10× docs — the descent-free eval shape)
    )

  /** sf0.1 floor for the streaming-capstone replay wall seconds
    * ([[curationReplay]] — the composed `startCurationSink` over the
    * documents×embeddings join in [[CurationBatches]] micro-batches).
    * Same protocol as [[floors]]: min-of-2 clean-window × 1.10; the
    * replay runs twice per bench, so any breach is two-window-confirmed
    * by construction. This is the flagship production surface's only
    * mechanical perf tripwire — a probe-pruning regression (probe bytes
    * growing with corpus size) lands directly in this number.
    *
    * Round-15 pin: best replay per run across three quiet windows —
    * 27.75 s (10.1 steal ticks/s), 28.77 s (7.5/s), then 25.67 s
    * (10.4/s) after the write clustering was extended to the
    * ensure-index/backfill/adoption paths that run at every restart —
    * min × 1.10 =
    * 28.2. Down from the round-14 floor of 55.0 (clean best 50.0): the
    * write-clustering + sort-shuffle-writer + single-join-probe work,
    * same-window A/B'd (62.6 → 46.9 → 33.4 → 27.8 → 25.7 s as each
    * landed). The replay's readings swing ~70% with co-tenant load,
    * which is why the breach rule requires BOTH runs quiet (< 50 steal
    * ticks/s) as well as > 1.3×: dirty windows abstain.
    */
  // Round-17 re-pin after the codegen-cache + artifact-isolation confs
  // (see the builder): three quiet windows — 18.04 s (3.3 steal
  // ticks/s) and 19.55 s (10.8/s) isolated, 15.51 s (4.5/s) inside the
  // clean full-suite run — all with ZERO warm-replay Janino compiles;
  // min × 1.10 = 17.1 (was 28.2).
  //
  // Round-17 continuation re-pin UPWARD (the qe25 protocol: clean
  // windows persistently ≥ 1.25× → re-pin with the evidence): the host
  // REBOOTED/RE-PLACED between sessions (uptime 1 h 52 m at detection;
  // idle load-avg 5.5 from co-tenants) and on the new placement the
  // replay reads 24.76 s in-suite (8.5 steal ticks/s) and
  // 34.52–35.6 s isolated (2.1–3.1/s — genuinely clean by the < 5/s
  // bar) on BOTH current code and the round-start commit, interleaved
  // same-window control (base 33.0–37.5 s vs current 33.5–40.5 s —
  // engine exonerated; batch-query totals read their best-ever 132.2 s
  // in the same windows, so the shift is specific to the replay's
  // tiny-job/scheduling-latency profile, invisible to steal ticks;
  // fsync probed healthy at 0.33 ms). min × 1.10 = 27.2 (was 17.1 on
  // the old placement — floors are per-placement calibration).
  //
  // Round-18 re-pin DOWNWARD after the BareLocalFileSystem bench conf
  // (chmod forks were 22% of the profile; CurProbe A/B in the builder
  // note) on the post-reboot placement: quiet warm replays 18.92 s
  // (15 ticks/s) and 22.44 s (36/s) → 20.8; tightened once more from
  // the round's closing near-zero-steal window (15.92 s at 5 ticks/s,
  // paired with the 18.92) — min × 1.10 = 17.5 (was 27.2).
  // Round-20 re-pin DOWNWARD: the round's three full-suite windows on
  // the pinned placement read the warm replay at 15.37 s (run steal
  // 87), 16.65 s (145) and 18.70 s (317) with zero breaches and every
  // stage <= 1.09x — min x 1.10 = 16.9 (was 17.5). The r19 driver
  // artifact's 24.45 s / gate 2.24x reading adjudicates as co-tenant
  // weather: same code, 0.88x in this round's first clean window.
  val curationSinkFloorSec: Option[Double] = Some(16.9)

  /** Per-stage sf0.1 floor seconds for the capstone replay's
    * [[graft.streaming.CorpusIngest.StageClock]] attribution — the
    * round-14 verdict's gap: only total wall was floored, so a
    * regression that grows one stage 2× while another shrinks (e.g. a
    * probe-pruning bug the byte-spec misses at bench scale) hid inside
    * a flat total. Same quiet-per-second + both-replays rule as the
    * total; pinned at min-of-clean-windows × 1.25 (stages are noisier
    * than totals: the materialization boundary between adjacent stages
    * wobbles with AQE/task placement even when the total is stable, so
    * the total's 1.10 margin would alarm on attribution jitter).
    *
    * Round-17 pin: stage minima across the three quiet post-conf
    * windows (18.04 / 19.55 / 15.51 s walls — see
    * [[curationSinkFloorSec]]): gate 2.31, band 1.37, winnow 0.44,
    * assign 1.53, cell 3.71, write 4.20 — × 1.25. ("start" is billed
    * in stage_sec for attribution but not floored: it reads 0.2 s and
    * is dominated by filesystem round-trips that vary with tmpfs
    * state.)
    */
  // Continuation re-pin with the total (stage minima across the five
  // quiet new-placement windows × 1.25): gate 4.23, band 2.04,
  // winnow 0.66, assign 2.93, cell 6.61, write 5.35.
  //
  // Round-18 re-pin with the total (stage minima across the three
  // quiet bare-fs windows incl. the closing 5-ticks/s one × 1.25):
  // gate 2.58, band 1.56, winnow 0.51, assign 1.73, cell 4.21,
  // write 3.27 — write carries the chmod win.
  // Round-20 stage re-pin (downward only, same three windows x 1.25
  // stage margin): band 1.39 -> 1.74, winnow 0.47 -> 0.59, cell
  // 4.10 -> 5.13, write 3.10 -> 3.88; gate/assign minima (2.82 / 1.65)
  // x 1.25 land above their current pins — unchanged.
  val curationStageFloorsSec: Map[String, Double] = Map(
    "gate" -> 3.23, "band" -> 1.74, "winnow" -> 0.59,
    "assign" -> 2.06, "cell" -> 5.13, "write" -> 3.88)

  /** sf1 twin of [[curationSinkFloorSec]] — the 100×-scale tripwire the
    * round-15 verdict asked for: the sf0.1 floor cannot catch a
    * regression that only appears when batches are big enough to
    * amortize fixed costs (a probe that silently goes corpus-linear
    * reads FLAT at sf0.1's 500-doc batches). Pinned round 16 from two
    * quiet windows (both-replay rule): best replays 25.11 s
    * (17.6 steal ticks/s) and 29.12 s (48.7/s), 20k docs in 4 batches →
    * min × 1.10 = 27.6. The headline scale evidence: the sf1 replay
    * walls EQUAL the sf0.1 replay's (~25–36 s) on 10× the docs — the
    * capstone is restart-overhead-bound, per-doc cost batch-
    * proportional (797 docs/s vs 62–78 at sf0.1). Applied when
    * `SPARK_GRAFT_SF_DIR` ends in `sf1` (the replay itself is opt-in
    * there via SPARK_GRAFT_BENCH_STREAMING=1).
    */
  // Round-17 re-pin (same conf change): two quiet windows 14.25 s
  // (~1 steal tick/s) and 15.09 s (4/s), zero warm-replay compiles,
  // 20k docs → 1325–1403 docs/s — min × 1.10 = 15.7 (was 27.6). The
  // sf1 wall is now BELOW the sf0.1 wall on 10× the docs: with the
  // classloader-invalidation churn gone, what remains is genuinely
  // batch-proportional work plus per-restart machinery the bigger
  // batches amortize better.
  //
  // Continuation re-pin UPWARD with [[curationSinkFloorSec]] (same
  // host re-placement, same control evidence): two very quiet windows
  // 30.65 s (1.2 steal ticks/s) and 32.52 s (1.9/s), 20k docs →
  // 615–652 docs/s — min × 1.10 = 33.7 (was 15.7). The sf1 wall still
  // tracks the sf0.1 wall on 10× the docs (the scale shape survives
  // the placement; only the per-tiny-job constant moved).
  //
  // Round-18 re-pin DOWNWARD (BareLocalFileSystem conf + post-reboot
  // placement): two quiet warm replays 15.52 s (21 ticks/s) and
  // 15.70 s (28/s), 20k docs → 1273–1288 docs/s, zero warm compiles —
  // min × 1.10 = 17.1 (was 33.7). The sf1 wall again reads BELOW the
  // sf0.1 wall on 10× the docs.
  val curationSinkFloorSecSf1: Option[Double] = Some(17.1)

  /** sf1 twin of [[curationStageFloorsSec]]: per-stage minima across
    * the same two quiet round-17 windows × the stage margin 1.25
    * (gate 2.95, band 1.48, winnow 0.46, assign 1.57, cell 1.87,
    * write 3.63). Keys are [[graft.streaming.CorpusIngest.BilledStages]]
    * (BenchSpec-pinned).
    */
  // Continuation re-pin with the sf1 total (stage minima across the
  // two new-placement windows × 1.25): gate 6.98, band 3.71,
  // winnow 1.10, assign 4.02, cell 4.67, write 5.49.
  //
  // Round-18 re-pin with the sf1 total (stage minima across the two
  // quiet bare-fs windows × 1.25): gate 3.56, band 1.57, winnow 0.51,
  // assign 1.53, cell 1.97, write 3.17.
  val curationStageFloorsSecSf1: Map[String, Double] = Map(
    "gate" -> 4.45, "band" -> 1.96, "winnow" -> 0.64,
    "assign" -> 1.91, "cell" -> 2.46, "write" -> 3.96)

  /** Micro-batch count for the capstone replay: enough restarts to pay
    * the AvailableNow production cadence (query start + ensure/
    * reconcile + state restore per batch) without the bench being ONLY
    * restart overhead.
    */
  // SPARK_GRAFT_BENCH_STREAMING_BATCHES overrides for restart-scaling
  // datapoints (e.g. 16 restarts over the same docs — the production
  // cadence at 100 TB is many AvailableNow wakeups over time, and the
  // wall-vs-restarts slope is the restart-overhead measurement the
  // 4-batch floor runs can't see). Floors only ever adjudicate the
  // default: a non-4 override is a one-off probe, and the bench's
  // floor comparison would be meaningless against it — so overridden
  // runs should use SPARK_GRAFT_BENCH_FILTER to skip the floored set
  // or be read as raw datapoints only.
  val CurationBatches: Int = sys.env.get("SPARK_GRAFT_BENCH_STREAMING_BATCHES")
    .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(4)

  /** Replay the sfDir documents (those with embeddings) through the
    * composed curation sink in [[CurationBatches]] micro-batches —
    * fresh corpus + checkpoint in temp dirs, one MemoryStream reused
    * across restarts (the checkpoint advances offsets, so each restart
    * processes exactly one batch: the AvailableNow cadence). Returns
    * (wallSec, stealDuringTicks, docsIn, docsKept, stageSeconds,
    * batchesRun — the actual group count, < [[CurationBatches]] for
    * corpus slices smaller than the batch count).
    *
    * FEEDING (round-14 verdict #3): the corpus reaches MemoryStream in
    * per-batch slices via a sorted `toLocalIterator`, NOT one
    * driver-resident `collect` — at sf1 the old full-slice collect held
    * ~500k docs+embeddings on the driver as pure harness overhead.
    * Driver residency is now bounded by one batch slice: the iterator
    * streams partitions one at a time, and MemoryStream's `commit`
    * trims each batch from its buffer once the checkpoint commits it,
    * so finished slices are released before the next is fetched.
    * TIMING is per-group (addData + sink run), excluding the iterator's
    * fetch between groups, so the measured wall stays comparable with
    * the floor pinned under collect-first feeding (which also excluded
    * slice materialization); steal is accumulated over the same spans.
    */
  def curationReplay(spark: SparkSession, sfDir: String): (Double, Long, Long, Long, Map[String, Double], Int) = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val joined = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
      .as[(Long, String, Seq[Double])]
      .orderBy(col("doc_id"))
    val nDocs = joined.count()
    val groupSize = math.max(1L, (nDocs + CurationBatches - 1) / CurationBatches).toInt
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell_id"),
        col("embedding").as("centroid"))
    val corpus = java.nio.file.Files.createTempDirectory("bench-cur-corpus")
    val cp = java.nio.file.Files.createTempDirectory("bench-cur-cp")
    def rmRf(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverseIterator
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Seq[Double])]
    graft.streaming.CorpusIngest.StageClock.reset()
    graft.streaming.CorpusIngest.StageClock.enabled.set(true)
    var sec = 0.0
    var steal = 0L
    var batches = 0
    try {
      val it = {
        import scala.jdk.CollectionConverters._
        joined.toLocalIterator().asScala.grouped(groupSize)
      }
      while (it.hasNext) {
        val g = it.next()
        val s0 = stealTicks()
        val t0 = System.nanoTime()
        ms.addData(g)
        graft.streaming.CorpusIngest.startCurationSink(
            ms.toDF().toDF("doc_id", "text", "embedding"),
            corpus.toString, cp.toString, cents)
          .awaitTermination()
        sec += (System.nanoTime() - t0) / 1e9
        steal += stealTicks() - s0
        batches += 1
      }
      val kept = spark.read.parquet(corpus.toString).count()
      // `batches`, not the CurationBatches constant: tiny corpus
      // slices yield fewer actual restarts (n=2 docs → 2 groups), and
      // per-batch overhead comparisons divide by the REAL batch count
      (sec, steal, nDocs, kept,
        graft.streaming.CorpusIngest.StageClock.secondsByStage, batches)
    } finally {
      graft.streaming.CorpusIngest.StageClock.enabled.set(false)
      rmRf(corpus); rmRf(cp)
    }
  }

  /** The breach rules' "quiet window" predicate: steal ticks PER SECOND
    * of the measured window (< 50/s ≈ 1.5% of this host's 32×100 Hz
    * tick capacity), with a 1-second floor so sub-second sf0.1 queries
    * keep the original absolute <50 semantics. An absolute bound made
    * the sf1 tripwire unfireable — a 30–90 s sf1 query accrues hundreds
    * of ticks even in clean windows, so no candidate could ever be
    * created at exactly the scale the sf1 floors exist to watch.
    * Measured regimes on this host: ~31 ticks/s in the cleanest
    * saturated window vs 80–350/s under co-tenant load.
    */
  private[graft] def quietWindow(sec: Double, ticks: Long): Boolean =
    ticks < 50.0 * math.max(1.0, sec)

  /** The confirm verdict for one breach candidate, over its
    * (sec, stealTicks, crashed) samples: every sample crash-free, the
    * MINIMUM elapsed still > 1.3× floor (the engine's best of N over
    * the line means all N were), and the POOLED (Σsec, Σticks) window
    * quiet. Pooling is the round-15 sub-second fix: /proc/stat is
    * 10 ms-granular, so one 0.49 s window can sample 0 steal ticks
    * inside a 51-ticks/s run and falsely certify quiet — three pooled
    * windows give a sub-second query ≥ 1.5 s of steal sampling.
    */
  private[graft] def confirmedBreach(floor: Double,
      runs: Seq[(Double, Long, Boolean)]): Boolean =
    runs.nonEmpty && runs.forall(!_._3) &&
      runs.map(_._1).min / floor > 1.3 &&
      quietWindow(runs.map(_._1).sum, runs.map(_._2).sum)

  /** 2-decimal JSON number under Locale.ROOT (comma-decimal locales
    * would corrupt the JSON).
    */
  private def fmt2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  /** Cumulative host steal ticks (8th field of /proc/stat's cpu line) —
    * recorded around the run so the artifact itself shows whether its
    * timings were taken under co-tenant CPU steal (this host shows
    * multi-minute bursts that inflate wall times several-fold; see
    * SCALE.md "Measured"). 0 when unreadable.
    */
  private def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")
        .drop(1).lift(7).map(_.toLong).getOrElse(0L)
      finally src.close()
    } catch { case _: Exception => 0L }

  /** The run's core count: `SPARK_GRAFT_CPUS`, default 32. Anything
    * but a positive integer fails here, before the session builds — it
    * would otherwise die in Spark's master-URL parser with a message
    * that does not name the variable.
    */
  private[graft] def cpusSetting(raw: Option[String]): String = {
    val cpus = raw.getOrElse("32").trim
    require(cpus.toIntOption.exists(_ > 0),
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$cpus'")
    cpus
  }

  def main(args: Array[String]): Unit = {
    val t0All = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = cpusSetting(sys.env.get("SPARK_GRAFT_CPUS"))
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Round-15, measured: the bypass-merge shuffle writer opens one
      // file PER REDUCER per map task (32×32 per exchange here) and
      // merges them with NIO map/unmap — 43% of executor CPU in a
      // profiled curation replay was that churn (map0/unmap0/write0 +
      // DiskBlockObjectWriter.initialize). Forcing the sort-based
      // writer (one file per map task) read the sf0.1 streaming
      // capstone at 33.4 s vs 46.9 s in a same-window A/B. At cluster
      // scale this is a no-op: wide shuffles exceed the 200-partition
      // default threshold and already use the sort writer — the
      // setting only removes the small-shuffle penalty box.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // Round-17, measured: the capstone's per-batch Janino cost
      // (round-16 profile: ~13% of sf1 CPU) was mostly CACHE THRASH,
      // not literal novelty — a micro-batch cycle compiles more than
      // the default 100-entry generated-class cache holds, so
      // IDENTICAL fragments recompile every batch. 1000 entries:
      // sf0.1 replay 30.7 → 25.0 s warm (quiet windows, −18%), sf1
      // 23.8 → 23.0 s; 5000 gave nothing more. Read once at first
      // codegen (static init), so it must be a builder-time conf.
      // Cluster note: per-JVM cache of small generated classes —
      // ~1000 entries is a few tens of MB, negligible on executors.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // Round-17, measured — the decisive one: the codegen cache is
      // keyed on (CLASSLOADER, source), and Spark 4's session artifact
      // isolation gives each streaming query start an isolated
      // classloader, so EVERY restart invalidated the whole cache
      // (572 steady-state Janino compiles per warm sf0.1 replay even
      // with the bigger cache — ~143/restart ≈ the full fragment
      // count). This engine registers no session artifacts (no
      // addArtifact, no session-scoped UDF jars), so isolation buys
      // nothing; disabling it restores Spark-3.x shared loading:
      // warm-replay compiles 572 → 0, sf0.1 replay 25.0 → 19.6 s
      // (0.69× floor), sf1 23.0 → 15.1 s = 1325 docs/s (0.55× floor),
      // keeper sets byte-identical across arms. Deployment conf for
      // clusters running this engine's streaming sinks; leave ON if
      // the hosting session loads per-session artifact jars.
      // The 572 → 0 holds only for replays of IDENTICAL docs: a batch
      // whose data differs from the warm-up's shifts the plan-position
      // stage ids in generated class names and recompiles, which the
      // corpus sinks now avoid by starting with
      // spark.sql.codegen.useIdInClassName=false (CorpusIngest scaladoc).
      // This bench's streaming capstone (curationReplay) replays
      // identical docs, so its janino_compiles cannot see that effect.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Round-17 continuation, measured: ObjectHashAggregate (every
      // typed/imperative aggregator — TopK, MisraGries, VecMean, KLL
      // percentile sketches) falls back to SORT-BASED aggregation once
      // a task sees more than this many distinct keys; the default 128
      // means any realistic group count sorts the task's whole input.
      // sf3 probe (TopKProbe): q41 typed form 10.97 → 1.54 s, udaf
      // form 3.35 → 1.47 s; in-suite sf3 q41 3.06 → 1.53 s,
      // qe20/21/22 −8–16%; sf0.1 set −5–10% (group counts there are
      // small — this is a SCALE conf). Memory rule for clusters: the
      // hash map holds one state buffer per ACTUAL distinct key per
      // task (the threshold is a cap, not a reservation) — 1M keys ×
      // the engine's largest bounded state (dim-64 VecMean ≈ 0.5 KB)
      // ≈ 0.5 GB worst case; keep fallback for workloads whose
      // per-task key cardinality genuinely exceeds memory.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1048576")
      // Round-18, measured (CurProbe same-window A/B, verdict #5): on a
      // local filesystem without libhadoop, RawLocalFileSystem FORKS
      // `chmod` once per created file — 22% of the sf1 capstone CPU
      // profile. BareLocalFileSystem is stock LocalFileSystem with
      // setPermission as a no-op (permissions are meaningless on
      // single-user bench dirs; exactly-once rests on rename, not
      // modes): batch-body replay 36.3 → 20.8 s and 76.7 → 27.0 s in
      // interleaved A/B pairs, write stage 19.5 → 5.3 s. LOCAL conf
      // only — cluster deployments talk to HDFS/object stores where
      // this class never engages. Kill switch: SPARK_GRAFT_BARE_FS=0.
      // Keeper-identity gate: full StreamingSpec green under
      // GRAFT_TEST_BARE_FS=1 (SCALE.md round 18).
    if (!sys.env.get("SPARK_GRAFT_BARE_FS").contains("0"))
      builder.config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.BareLocalFileSystem].getName)
    // dev: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" applies confs before the
    // sweep — the A/B lever for conf-gated physical experiments
    // (e.g. spark.sql.adaptive.enabled=false) without recompiling.
    // Applied at BUILDER time, not spark.conf.set after start: core
    // confs (spark.shuffle.*, spark.io.*) are fixed once the context
    // exists, and a silently-ignored A/B arm reads as "no difference"
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(';').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => builder.config(k.trim, v.trim)
        case _ =>
      }
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // artifact-tail hygiene: freeing localCheckpoints is deliberate
    // (every bench batch releases its frames), but each unpersist WARNs
    // "RDD … was locally checkpointed, its lineage has been truncated" —
    // dozens of lines of intended-behavior noise crowding the ~2000-char
    // stdout window the driver keeps. Bench-harness-only silencing; the
    // library itself never touches log config.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    // same class of noise from the WRITE path: a dynamic overwrite into
    // a sidecar dir that holds only the `_`-prefixed meta file (every
    // replay's first batch) routes through DataSource path resolution,
    // which WARNs "All paths were ignored" — the probes' empty-dir
    // short-circuit can't reach it. DataSource's only WARNs are this
    // flavor; bench-harness-only silencing.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.datasources.DataSource",
      org.apache.logging.log4j.Level.ERROR)
    // dev: SPARK_GRAFT_BENCH_FILTER=regex to time a subset
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // a failing query must NOT silently improve the total: record the name
    // and report -1 for it instead of its (near-zero) elapsed time.
    // Returns (elapsed sec, steal ticks observed DURING the query) — the
    // per-query steal window is what separates "this plan regressed"
    // from "a co-tenant burst landed on this query" when reading the
    // artifact later (the round-5 bench drifted ~1.9× under a 2.8×
    // steal spike and looked like a uniform regression).
    // (elapsed, steal, crashed) with NO side effect on `failed` — the
    // confirm re-runs need timing without polluting the top-level
    // errors array (a confirm-only crash is a confirm_runs fact, not a
    // "query failed": the query's min-of-2 sweep time already counted)
    def onceRaw(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Long, Boolean) = {
      val s0 = stealTicks()
      val t0 = System.nanoTime()
      val crashed =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); false }
        catch { case t: Throwable =>
          System.err.println(s"BENCH FAIL $name: ${t.getClass.getSimpleName}: ${t.getMessage}")
          true
        }
      ((System.nanoTime() - t0) / 1e9, stealTicks() - s0, crashed)
    }
    def once(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Long) = {
      val (t, s, crashed) = onceRaw(name, fn)
      if (crashed) failed += name
      (t, s)
    }
    // two interleaved passes, min per query: the harness host shows
    // multi-minute CPU-steal bursts from co-tenants; spacing the two
    // samples a full sweep apart keeps at least one outside a burst
    val steal0 = stealTicks()
    val names = headline.filter(n => filter.forall(_.findFirstIn(n).isDefined))
      .filter(SparkEntry.queries.contains)
    val pass1 = names.map(n => n -> once(n, SparkEntry.queries(n)))
    val pass2 = names.map(n => n -> once(n, SparkEntry.queries(n))).toMap
    // report the faster pass's time AND the steal observed during that
    // same pass, so every number carries its own measurement context
    val results = pass1.map { case (n, (t1, s1)) =>
      val (t2, s2) = pass2(n)
      val (t, s) = if (t1 <= t2) (t1, s1) else (t2, s2)
      n -> (if (failed(n)) (-1.0, 0L) else (t, s))
    }
    val qs = results.map { case (k, (v, _)) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val perQuerySteal = results.map { case (k, (_, s)) => "\"" + k + "\":" + s }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, (v, _)) if v >= 0 => v }.sum
    // steal observed DURING this run — timings taken while this is large
    // measure the neighbors, not the engine (SCALE.md "Measured")
    val steal = stealTicks() - steal0
    // mechanical floor-regression read: ratio to the pinned clean floor.
    // sf-matched pins only — comparing another SF against them would
    // flag meaningless "breaches"
    val trimmed = sfDir.replaceAll("/+$", "")
    val floorMap =
      if (trimmed.endsWith("sf0.1")) floors
      else if (trimmed.endsWith("sf1")) floorsSf1
      else Map.empty[String, Double]
    val vsFloor = results.collect { case (k, (v, _)) if v >= 0 && floorMap.contains(k) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.2f", Double.box(v / floorMap(k)))
    }.mkString("{", ",", "}")
    // two-window breach adjudication, mechanized (round-13 protocol
    // fix): a >1.3x quiet-window reading is only a CANDIDATE — re-run
    // it now, at end of suite (a full sweep after its min-of-2 pass, so
    // a co-tenant burst that straddled both interleaved passes has had
    // time to move on), and flag a breach only when the confirm sample
    // ALSO reads >1.3x in a quiet window. Every candidate's confirm
    // sample ships in the artifact, so a true breach arrives with two
    // independent readings and a false one dies without adjudication.
    val candidates = results.collect {
      case (k, (v, s)) if v >= 0 && floorMap.contains(k) &&
        v / floorMap(k) > 1.3 && quietWindow(v, s) => k
    }
    // onceRaw: a confirm-only crash stays a confirm_runs `failed:true`
    // fact — the query's successful min-of-2 time already counts in
    // `queries`/`total`, so adding its name to the top-level `errors`
    // array would read as "query failed" to artifact consumers.
    //
    // THREE samples per confirm, adjudicated on (min elapsed, POOLED
    // window) — the round-15 sub-second blind spot: /proc/stat is
    // 10 ms-granular, so a 0.49 s single confirm window can sample 0
    // steal ticks inside a 51-ticks/s run and "certify" quiet under
    // real load (BENCH_r15's qe21 breach did exactly that). Pooling
    // three windows gives a 0.5 s query ≥ 1.5 s of steal sampling; the
    // breach test uses min(samples) — the engine's BEST of three still
    // over 1.3× means all three were — so extra samples only ever make
    // the protocol harder to false-alarm, never easier.
    val ConfirmSamples = 3
    val confirm = candidates.map { k =>
      k -> Vector.fill(ConfirmSamples)(onceRaw(k, SparkEntry.queries(k)))
    }.toMap
    val breachList = candidates.filter(k => confirmedBreach(floorMap(k), confirm(k)))
    // placement-staleness routing (ADVICE r17 #4): on a placement the
    // floors were not pinned under, a confirmed verdict is evidence
    // that a RE-PIN is due, not that the engine regressed — it ships
    // under a _stale_placement key so no consumer reads it as a breach,
    // and the floor_placement object makes the staleness itself loud.
    val bootNow = currentBootId
    val placementStale =
      floorPlacementBootId.exists(p => bootNow.exists(_ != p))
    // cpu-calibration routing (round 20): every floor is pinned from
    // full-suite windows at [[FloorCalibrationCpus]] cores, and the
    // driver ALSO benches at a lower core count to measure scaling. At
    // 8 cores compute-parallel queries legitimately read 2–6× their
    // 32-core floor — BENCH_r19_c8 carried 17 candidates that died
    // ONLY because its dirty window (34.5 steal ticks/s) made every
    // confirm abstain; a QUIET low-core run would have "confirmed"
    // dozens of phantom breaches. Same argument as placement
    // staleness: a verdict against floors calibrated under different
    // hardware parallelism is a calibration fact, not a regression —
    // it ships under a _uncalibrated_cpus key, with vs_floor /
    // candidates / confirms reported unchanged for scaling analysis.
    val cpusCalibrated = cpus.toInt == FloorCalibrationCpus
    val breachesArr = breachList.map("\"" + _ + "\"").mkString("[", ",", "]")
    val breaches =
      if (placementStale || !cpusCalibrated) "[]" else breachesArr
    val stalePart =
      if (placementStale) s""","floor_breaches_stale_placement":$breachesArr"""
      else if (!cpusCalibrated) s""","floor_breaches_uncalibrated_cpus":$breachesArr"""
      else ""
    val placementJson = s""","floor_placement":{"pinned":${floorPlacementBootId.map("\"" + _ + "\"").getOrElse("null")},"current":${bootNow.map("\"" + _ + "\"").getOrElse("null")},"stale":$placementStale,"calibration_cpus":$FloorCalibrationCpus,"run_cpus":$cpus,"cpus_calibrated":$cpusCalibrated}"""
    val candJson = candidates.map("\"" + _ + "\"").mkString("[", ",", "]")
    // a confirm run that CRASHED must be visible as such: its elapsed
    // time is time-to-exception, not a legit quiet sample, and reading
    // it as "noise confirmed clean" inverts the protocol's intent.
    // `sec` stays the (min) scalar consumers already read; `secs` and
    // the pooled `steal` carry the full three-sample evidence.
    val confirmJson = confirm.map { case (k, runs) =>
      "\"" + k + "\":{\"sec\":" + runs.map(_._1).min +
        ",\"secs\":" + runs.map(_._1).mkString("[", ",", "]") +
        ",\"steal\":" + runs.map(_._2).sum +
        (if (runs.exists(_._3)) ",\"failed\":true" else "") + "}"
    }.mkString("{", ",", "}")
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // streaming capstone: the composed curation sink's throughput, the
    // production surface's only perf tripwire. Two full replays (the
    // two-window protocol by construction: a breach needs BOTH over
    // 1.3x floor in quiet windows); stage shares from the faster one.
    // Runs with the full suite or when the filter names it; skippable
    // for timing-only subset work via SPARK_GRAFT_BENCH_STREAMING=0.
    // Default-on only at the floor's own SF (sf0.1) and the dev-smoke
    // SF (sf0.001): the replay collects the documents×embeddings join
    // to the driver for ordered MemoryStream feeding, which at sf1+ is
    // two full-corpus materializations of pure overhead with no
    // streaming floor to adjudicate (and a growing driver-OOM risk);
    // SPARK_GRAFT_BENCH_STREAMING=1 forces it on anywhere regardless.
    val streamEnv = sys.env.get("SPARK_GRAFT_BENCH_STREAMING")
    val runStreaming =
      !streamEnv.contains("0") &&
        (streamEnv.contains("1") ||
          trimmed.endsWith("sf0.1") || trimmed.endsWith("sf0.001")) &&
        (filter.isEmpty || filter.exists(_.findFirstIn("curation_sink").isDefined))
    val streamJson = if (!runStreaming) "" else {
      try {
        // SPARK_GRAFT_BENCH_STREAMING_RUNS=1 for single-replay
        // datapoints (the occasional sf1 reading — ~20k docs per
        // replay — doesn't need the two-window breach protocol, which
        // only applies at the floor's own SF anyway)
        val nRuns = sys.env.get("SPARK_GRAFT_BENCH_STREAMING_RUNS")
          .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(2)
        // per-replay Janino compile counts (cumulative JVM metric,
        // differenced): the mechanical read on plan-novelty/cache
        // residuals — run 1 carries the cold compiles, run 2's count
        // is the steady-state per-replay recompile churn the
        // codegen.cache.maxEntries builder conf exists to kill
        def janinoCompiles(): Long = org.apache.spark.metrics.source
          .CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val c0 = janinoCompiles()
        val r1 = curationReplay(spark, sfDir)
        val c1 = janinoCompiles()
        val r2 = if (nRuns >= 2) curationReplay(spark, sfDir) else r1
        val c2 = janinoCompiles()
        val compiles =
          if (nRuns >= 2) Seq(c1 - c0, c2 - c1) else Seq(c1 - c0)
        val best = if (r1._1 <= r2._1) r1 else r2
        val (sec, st, nIn, nKept, stages, nBatches) = best
        // the steal guard here is per SECOND, not per run (contrast
        // the query rule's absolute <50): the replay saturates all
        // cores for a minute-plus, so absolute ticks are never near
        // zero (1.8k on the cleanest observed run) and an absolute
        // guard would make the floor unfireable. Measured regimes:
        // ~31 ticks/s on the clean pin run vs 80–160 under
        // co-tenant load (32 cpus × 100 Hz = 3200 ticks/s capacity,
        // so 50/s ≈ 1.5% stolen). Both runs must exceed 1.3× AND
        // both must be sub-50/s — in a dirty window the floor
        // abstains rather than alarm (the first drive of this rule
        // without the guard flagged a 235 s steal-burst run as a
        // "confirmed" breach).
        def quiet(r: (Double, Long, Long, Long, Map[String, Double], Int)): Boolean =
          quietWindow(r._1, r._2)
        // sf-matched floor selection: the sf0.1 floors are the per-round
        // tripwire; the sf1 twins fire on the opt-in 100×-scale runs
        val (sinkFloor, stageFloors) =
          if (CurationBatches != 4) (None, Map.empty[String, Double]) // floors are pinned at the 4-restart cadence
          else if (trimmed.endsWith("sf0.1")) (curationSinkFloorSec, curationStageFloorsSec)
          else if (trimmed.endsWith("sf1")) (curationSinkFloorSecSf1, curationStageFloorsSecSf1)
          else (None, Map.empty[String, Double])
        val floorPart = sinkFloor match {
          case Some(f) =>
            // nRuns==1 aliases r2 to r1, so the two-independent-window
            // rule would degenerate to a single-run confirmation
            // (ADVICE r15): emit vs_floor only, no breach verdict
            val breachPart = if (nRuns < 2) "" else {
              val breach = r1._1 / f > 1.3 && r2._1 / f > 1.3 &&
                quiet(r1) && quiet(r2)
              val key =
                if (placementStale) "breach_stale_placement"
                else if (!cpusCalibrated) "breach_uncalibrated_cpus"
                else "breach"
              s""","$key":$breach"""
            }
            s""","vs_floor":${fmt2(sec / f)}$breachPart"""
          case _ => ""
        }
        val stageJson = stages.toSeq.sortBy(-_._2).map { case (k, v) =>
          "\"" + k + "\":" + fmt2(v)
        }.mkString("{", ",", "}")
        // per-stage floors (round-14 verdict #2): a stage-local
        // regression must not hide inside a flat total. A stage
        // breaches only when BOTH replays read it > 1.3× its floor in
        // quiet windows — each replay's stages come from its own
        // StageClock.reset() window, so r1/r2 are independent samples.
        val stagePart = if (stageFloors.isEmpty) "" else {
          val vsf = stages.collect {
            case (s, v) if stageFloors.contains(s) =>
              "\"" + s + "\":" + fmt2(v / stageFloors(s))
          }.mkString("{", ",", "}")
          // a floored stage that stopped being billed at all (label
          // rename, StageClock drift) must be VISIBLE, not silently
          // unfireable — getOrElse(s, 0.0) never exceeds 1.3× (ADVICE
          // r15; BenchSpec pins the keys == CorpusIngest.BilledStages)
          val orphans = stageFloors.keys
            .filterNot(stages.contains).toSeq.sorted
          // same nRuns<2 degeneracy guard as the total's breach
          // verdict: OMIT the verdict key rather than emit [] — an
          // empty list reads as "evaluated, none", which a single
          // aliased window cannot certify
          val sbPart = if (nRuns < 2) "" else {
            val sb = stageFloors.keys.filter { s =>
              r1._5.getOrElse(s, 0.0) / stageFloors(s) > 1.3 &&
                r2._5.getOrElse(s, 0.0) / stageFloors(s) > 1.3 &&
                quiet(r1) && quiet(r2)
            }.toSeq.sorted
            val key =
              if (placementStale) "stage_breaches_stale_placement"
              else if (!cpusCalibrated) "stage_breaches_uncalibrated_cpus"
              else "stage_breaches"
            s""","$key":${sb.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
          }
          val orphanPart =
            if (orphans.isEmpty) ""
            else s""","stage_floor_orphans":${orphans.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
          s""","stage_vs_floor":$vsf$sbPart$orphanPart"""
        }
        s""","streaming":{"docs":$nIn,"kept":$nKept,"batches":$nBatches,"sec":${fmt2(sec)},"docs_per_sec":${fmt2(nIn / sec)},"runs":[${fmt2(r1._1)},${fmt2(r2._1)}],"run_steal":[${r1._2},${r2._2}],"janino_compiles":${compiles.mkString("[", ",", "]")},"stage_sec":$stageJson$stagePart$floorPart}"""
      } catch { case t: Throwable =>
        System.err.println(s"BENCH STREAMING FAIL: ${t.getClass.getSimpleName}: ${t.getMessage}")
        s""","streaming":{"error":"${t.getClass.getSimpleName}"}"""
      }
    }
    // steal accrued AFTER the two-pass sweep (confirm re-runs + the two
    // streaming replays): `steal_ticks` keeps meaning exactly the sweep
    // window the "<~150 whole-run ticks = clean" pin judgment was
    // calibrated on, while the post-sweep share of wall-clock — a large
    // fraction once streaming runs — gets its own visible reading
    // instead of silently escaping the artifact (round-14 advice)
    val postSweepSteal = stealTicks() - steal0 - steal
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"steal_ticks":$steal,"post_sweep_steal_ticks":$postSweepSteal,"query_steal_ticks":$perQuerySteal,"vs_floor":$vsFloor,"breach_candidates":$candJson,"confirm_runs":$confirmJson,"floor_breaches":$breaches$stalePart$placementJson$streamJson,"sf":"$sfDir"}"""
    // full-precision artifact (incl. per-query timings and steal
    // windows) → a file, because the harness keeps only the LAST ~2000
    // chars of stdout: at 106 queries even a 3-decimal per-query map is
    // ~2.7k chars, which is how BENCH_r14.json landed with a truncated
    // tail and "parsed": null. The line printed LAST is a SHORT summary
    // (total, errors, breach lists, streaming block, artifact path)
    // that always fits the window and always parses.
    // per-run default names embed (cpus, sf) — round-19 verdict #3: the
    // driver benches at two core counts back to back, and a fixed
    // default name let the second run CLOBBER the first's per-query
    // data (PERF_r19 ended with per_query:{} because the 8-core run
    // overwrote the 32-core bench_full.json). The env overrides and the
    // one-line summary contract (which names queries_path/summary_path,
    // so consumers never guess) are unchanged.
    val sfLabel = trimmed.split('/').lastOption.getOrElse("sf")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"bench_full_c${cpus}_$sfLabel.json")
    val sumPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY_OUT",
      s"bench_summary_c${cpus}_$sfLabel.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), full + "\n")
    catch { case e: Exception => System.err.println(s"bench: could not write $outPath: $e") }
    // Locale.ROOT: f"%.3f" under a comma-decimal default locale (de/fr/…)
    // would print 1,234 and corrupt the JSON
    def r3(v: Double): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // clean-window context rides WITH the totals (round-16 verdict:
    // the driver artifact keeps landing in dirty co-tenant windows and
    // its raw total then masquerades as a regression): floor_total is
    // the pinned clean-window expectation for exactly the floored
    // queries that ran, floored_total their observed sum this window,
    // and steal_rate the window's own dirtiness in ticks/s (clean
    // regime ≈ 6–7/s; 32 cpus × 100 Hz = 3200/s capacity) — so any
    // consumer can compute "engine vs weather" mechanically
    val flooredRan = results.collect {
      case (k, (v, _)) if v >= 0 && floorMap.contains(k) => (k, v)
    }
    val floorTotal = flooredRan.map { case (k, _) => floorMap(k) }.sum
    val flooredTotal = flooredRan.map(_._2).sum
    val sweepWall = (System.nanoTime() - t0All) / 1e9
    val windowPart =
      s""","floor_total":${fmt2(floorTotal)},"floored_total":${fmt2(flooredTotal)},"vs_floor_total":${if (floorTotal > 0) fmt2(flooredTotal / floorTotal) else "null"},"wall_sec":${fmt2(sweepWall)},"steal_rate_per_sec":${if (sweepWall > 0) fmt2((steal + postSweepSteal) / sweepWall) else "null"}"""
    val summary =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"queries_path":"$outPath","summary_path":"$sumPath","errors":$errs,"steal_ticks":$steal,"post_sweep_steal_ticks":$postSweepSteal$windowPart,"breach_candidates":$candJson,"floor_breaches":$breaches$stalePart$placementJson$streamJson,"sf":"$sfDir"}"""
    // the summary goes to a sentinel FILE before teardown (round-16
    // verdict #5 + ADVICE: stdout is conclusively unparseable on this
    // host — sbt's fd-1 line-prefixer — and a summary emitted only
    // after spark.stop() dies with any teardown exception)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(sumPath), summary + "\n")
    catch { case e: Exception => System.err.println(s"bench: could not write $sumPath: $e") }
    try spark.stop()
    catch { case e: Exception => System.err.println(s"bench: spark.stop failed: $e") }
    // BENCH_r14/r15 both landed "parsed": null despite a complete
    // summary in the tail. Round-16 finding: on this host EVEN a raw
    // FileDescriptor.out write arrives in the captured stream as
    // "[info] {…}" (verified across three bench logs) — sbt's batch
    // mode relays the JVM's fd 1 through a line-prefixer process, so
    // no program-side emission can produce a bare-JSON line, and sbt's
    // own "[success] Total time…" trailer always follows it. What IS
    // program-side fixable is done: the line is short (always complete
    // within a ~2000-char tail window) and the tail is WARN-free. The
    // residual is driver-side: strip the ^\[(info|error)\] prefix
    // before json-parsing the tail. The FD write stays (strictly no
    // worse than println, and bare where sbt only redirects
    // System.out); not closed — closing it closes fd 1 itself. Written
    // AFTER spark.stop() so nothing interleaves mid-line.
    System.out.flush(); System.err.flush()
    val fd = new java.io.FileOutputStream(java.io.FileDescriptor.out)
    fd.write((summary + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    fd.flush()
  }
}
