package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessorWithInitialState, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}

import graft.functions.{Dedup, NativeExpressions, Similarity, TextAnalysis}

/** Streaming capstone for the LLM-data pipeline: a stream of new
  * documents → quality gate → incremental exact dedup against the
  * already-ingested corpus → append to the corpus sink. Composes the
  * pieces that are each oracle/test-proven in batch (qd26's
  * [[Dedup.incrementalDedup]] shape, qd02's token gate, RaceIngest's
  * batch_id-partition exactly-once sink) into the production
  * incremental path: at 100 TB you never re-dedupe the corpus —
  * and you never re-SCAN it per batch either.
  *
  * Scale + exactly-once design:
  *  - the seen-hash set lives in STREAMING STATE (`transformWithState`
  *    ValueState keyed by `content_hash`, RocksDB-backed — per-executor
  *    local disk, not JVM heap), so each micro-batch costs O(batch):
  *    state lookups for the batch's own hashes, NO corpus re-scan. The
  *    previous formulation anti-joined the corpus's `content_hash`
  *    column every batch — a single-column but WHOLE-corpus read, i.e.
  *    O(batches × corpus) cumulative at 100 TB with frequent triggers;
  *  - the corpus's stored `content_hash` column is read ONCE, as
  *    `transformWithState` INITIAL STATE, and only when the query
  *    starts with a FRESH checkpoint (an existing checkpoint restores
  *    the seen-set from state; Spark applies initial state solely on
  *    the first batch of a state-less query). This is what lets a new
  *    query adopt a pre-existing corpus without per-batch scans;
  *  - within-batch keeper choice is deterministic (smallest id per
  *    hash, [[Dedup.exactDedup]]'s rule);
  *  - each batch writes its own (`epoch`, `batch_id`) partition with
  *    dynamic partition overwrite — the epoch is pinned per checkpoint
  *    ([[CorpusIngest.queryEpoch]]), so a query can only ever overwrite
  *    partitions it wrote itself. A replayed batch (sink committed,
  *    checkpoint lost) re-bootstraps from the corpus — which already
  *    contains its own keepers — so it emits NOTHING and the dynamic
  *    overwrite touches no partition: the corpus is byte-identical, no
  *    duplicate and no lost keepers. (A replay with the checkpoint
  *    INTACT never re-fires the batch at all — foreachBatch idempotence
  *    via the partition key, as in RaceIngest.)
  *
  * Dedup SCOPE (exact sink): the no-duplicate invariant covers every
  * epoch's data as of each query START — a fresh checkpoint bootstraps
  * ALL corpus hashes via initial state, and a RESUMED checkpoint folds
  * the epochs other writers grew while it was down
  * ([[foreignEpochHashes]]: a one-time epoch-pruned read of just those
  * epochs' `content_hash` column, anti-joined per batch). So
  * SEQUENTIALLY interleaved writer checkpoints (stop A, run B, resume
  * A) admit no cross-epoch duplicates. The one residual is writers
  * running CONCURRENTLY — an epoch growing WHILE this query runs is
  * folded only up to the start-time read; follow true live
  * interleaving with [[compactCorpus]], which removes any admitted
  * cross-epoch duplicates deterministically and rewrites only the
  * partitions that held them. (The NEAR-dup and semantic sinks
  * re-probe all epochs' index buckets per batch and never had this
  * gap.)
  *
  * DEPLOYMENT CONFS (measured round 17, set at session-builder time —
  * both are read once at first codegen and cannot be flipped later):
  *  - `spark.sql.codegen.cache.maxEntries=1000` — a curation
  *    micro-batch cycle compiles more whole-stage fragments than the
  *    100-entry default cache holds, so identical fragments recompile
  *    every batch (measured −18% replay wall);
  *  - `spark.sql.artifact.isolation.enabled=false` — Spark 4's
  *    session-artifact isolation gives each streaming query start an
  *    isolated classloader, and the codegen cache is keyed on
  *    (classloader, source), so EVERY restart recompiles every
  *    fragment (measured: 572 Janino compiles per warm replay → 0;
  *    sf1 throughput 840 → 1400 docs/s). These sinks register no
  *    session artifacts, so isolation buys nothing here; keep it ON
  *    only if the hosting session loads per-session artifact jars.
  *    The 572 → 0 held only for replays of IDENTICAL docs, where every
  *    batch repeats the warm plan shapes.
  *
  * Per-query conf (set by every sink start, not by the deployment):
  * `spark.sql.codegen.useIdInClassName=false`. A whole-stage class is
  * otherwise named `GeneratedIteratorForCodegenStage<N>`, where `N` is
  * the stage's position in the action's plan; a batch is one DAG cut
  * by collects and local checkpoints whose shape follows the data
  * (empty probes, IN-list sizes), so `N` shifts between batches and
  * the same pipeline code misses the cache under a new name — with a
  * miss per classloader (driver thread and task threads differ).
  * Measured on the sf0.1 curation replay with different docs than the
  * warm-up: 104/84 compiles per batch → 9/1. The stream captures the
  * value at `start()`; the caller's session keeps its own (see
  * [[withStartConfs]]).
  */
object CorpusIngest {

  /** One corpus row (pre-`batch_id`): the stream's (doc_id, text) plus
    * the exact-dedup fingerprint ([[TextAnalysis.fingerprint]], the
    * md5-of-normalized-text `content_hash` every dedup op here keys on).
    */
  case class CorpusDoc(doc_id: Long, text: String, content_hash: String)
    extends HashedDoc

  /** A row of an exact-dedup stage: the fields [[SeenHashProcessor]] reads. */
  sealed trait HashedDoc { def doc_id: Long; def content_hash: String }

  /** Initial-state row: a hash already in the on-disk corpus. */
  case class SeenHash(content_hash: String)

  /** Keyed by `content_hash`: first batch to present a hash emits its
    * smallest-id doc and marks the hash seen; every later occurrence
    * (same batch handled by the grouped iterator, later batches by the
    * state probe) emits nothing. Initial state marks corpus-resident
    * hashes seen without emitting. One Boolean ValueState per hash, for
    * the exact sink's [[CorpusDoc]] and the curation sink's
    * [[CurationDoc]] alike.
    */
  class SeenHashProcessor[D <: HashedDoc]
      extends StatefulProcessorWithInitialState[String, D, D, SeenHash] {
    @transient private var seen: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean](
        "seen", Encoders.scalaBoolean, TTLConfig.NONE)

    override def handleInputRows(hash: String, rows: Iterator[D],
        timerValues: TimerValues): Iterator[D] =
      if (seen.exists()) Iterator.empty
      else {
        seen.update(true)
        Iterator.single(rows.minBy(_.doc_id))
      }

    override def handleInitialState(hash: String, s: SeenHash,
        timerValues: TimerValues): Unit =
      seen.update(true)
  }

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** `transformWithState` runs only on the RocksDB state store. An
    * EXPLICITLY-set non-RocksDB provider (including a deliberate
    * HDFS-backed choice — `conf.getAll` lists only explicitly-set
    * entries, unlike `getOption`, which surfaces built-in defaults) is
    * refused loudly: silently flipping it under a user who chose it
    * would break their other queries' existing state checkpoints. The
    * engine DEFAULT counts as "no choice": default RocksDB in.
    */
  private def ensureRocksDb(spark: SparkSession): Unit =
    spark.conf.getAll.get(ProviderKey) match {
      case None => spark.conf.set(ProviderKey, RocksDbProvider)
      case Some(v) if v.contains("RocksDB") => ()
      case Some(v) => throw new IllegalStateException(
        s"CorpusIngest needs the RocksDB state store for transformWithState " +
          s"(seen-hash ValueState); session has $ProviderKey=$v explicitly " +
          s"set — unset it or set it to $RocksDbProvider")
    }

  private val StageIdInClassNameKey = "spark.sql.codegen.useIdInClassName"

  /** Set → start → restore windows of concurrent corpus-sink starts
    * must not interleave (the started stream captures the session conf
    * as of `start()`). Serialized on this JVM-wide lock; see the
    * scaladoc note on `startDedupedCorpusSink` for the residual caveat
    * about NON-graft queries started in the window (a per-query conf
    * needs `cloneSession`, which Spark does not expose publicly).
    */
  private val startConfLock = new Object

  /** Runs a sink's start window with the stream's confs set in the
    * caller's session, restoring the caller's explicit values (or their
    * absence) afterwards, also when `start` throws: stage-id-free
    * generated class names (see the class scaladoc), and with `rocksDb`
    * the RocksDB state-store provider [[ensureRocksDb]] admits — whose
    * refusal throws before anything is flipped.
    */
  private def withStartConfs[T](spark: SparkSession, rocksDb: Boolean = false)(start: => T): T =
    startConfLock.synchronized {
      val keys = StageIdInClassNameKey +: (if (rocksDb) Seq(ProviderKey) else Nil)
      val prior = keys.map(k => k -> spark.conf.getAll.get(k))
      if (rocksDb) ensureRocksDb(spark)
      try {
        spark.conf.set(StageIdInClassNameKey, "false")
        start
      } finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  private def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Flat membership predicate over the (epoch, batch_id) partition
    * pair. The obvious per-pair OR-chain (`e=1 AND b=1 OR e=1 AND b=2
    * OR …`) builds a driver-side expression tree whose DEPTH grows with
    * the pair count — a pathological compaction backlog (tens of
    * thousands of affected partitions) deep-recurses the analyzer and
    * defeats codegen. `isin` over a struct key stays ONE node of
    * constant depth regardless of set size (and past the optimizer's
    * In→InSet threshold becomes a set lookup). It references only the
    * two partition columns, so partition pruning still applies — the
    * scan below it lists only the affected directories. Cast to long on
    * both sides: partition-directory inference types the columns as int.
    */
  private[graft] def inPartitionPairs(pairs: Iterable[(Long, Long)]): Column =
    struct(col("epoch").cast("long").as("_1"),
        col("batch_id").cast("long").as("_2"))
      .isin(pairs.toSeq.map(p => typedlit(p)): _*)

  /** Ceiling on the driver-side affected-partition pair set a
    * compaction/rehash may collect (override per session with
    * `spark.conf.set(MaxCompactionPairsKey, n)`). The struct-isin
    * predicate is constant-DEPTH at any size, but the pair SET itself
    * still lives on the driver and becomes an isin literal list — a
    * never-compacted corpus accumulating millions of micro-batch
    * partitions would collect millions of pairs and rewrite the whole
    * corpus in one job. Failing loudly above the ceiling steers the
    * operator to a more frequent compaction cadence (each run then
    * touches only the partitions dirtied since the last one) instead
    * of letting one unbounded job grind the driver.
    */
  val MaxCompactionPairsKey = "spark.graft.compaction.maxPairs"
  private val DefaultMaxCompactionPairs = 100000L

  private def guardAffectedPairs(spark: SparkSession, nPairs: Int,
      what: String): Unit = {
    // a typo'd conf value must fail with the guard's actionable style,
    // not a bare NumberFormatException from deep inside the parse — and
    // "0"/"-5" PARSE but make every compaction refuse with a nonsense
    // ceiling, so non-positive values get the same actionable error
    val max = spark.conf.getOption(MaxCompactionPairsKey).map { raw =>
      val parsed = raw.trim.toLongOption
      require(parsed.exists(_ > 0),
        s"$MaxCompactionPairsKey is set to '$raw', which is not a positive " +
          "long — set it to a positive pair-count ceiling (default " +
          s"$DefaultMaxCompactionPairs) or unset it.")
      parsed.get
    }.getOrElse(DefaultMaxCompactionPairs)
    require(nPairs <= max,
      s"$what touches $nPairs affected (epoch, batch_id) partitions — " +
        s"above the $MaxCompactionPairsKey ceiling ($max). Run compaction " +
        "more frequently so each run touches a bounded backlog, or raise " +
        "the ceiling for a deliberate one-off catch-up run.")
  }

  /** True when `dir` holds actual table content — at least one
    * non-hidden entry. The corpus directory can pre-exist EMPTY of data
    * (epoch-claim and band-index bookkeeping live in `_graft_*`
    * subdirectories, which parquet readers and this check both ignore),
    * so bare `fs.exists` is not "a corpus exists"; and catching
    * `AnalysisException` around a read is too wide — it also swallows
    * unresolved-COLUMN errors, silently disabling dedup against a
    * mismatched-schema corpus. Existence checks here, column errors
    * propagate loudly.
    */
  private def hasData(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }

  /** Sidecar read with its declared schema. A dir holding no data files
    * yet (fresh corpus: only the `_`-prefixed pinned-meta file, which
    * the parquet source ignores) short-circuits to an empty relation —
    * scanning it through the DataSource WARNs "All paths were ignored"
    * once per micro-batch, pure noise that pollutes bench/driver
    * artifact tails. One driver-side listStatus per batch, the same
    * metadata cost the scan's own file listing would pay.
    */
  private def readSidecar(spark: SparkSession, dir: Path,
      schema: StructType): DataFrame = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hasData(fs, dir)) spark.read.schema(schema).parquet(dir.toString)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** The one-time bootstrap read: the corpus's stored hash column (a
    * single-column pruned parquet scan), or empty when no corpus data
    * exists yet. Executed once per FRESH-checkpoint query start, never
    * per batch. Pointing the sink at an existing corpus WITHOUT a
    * `content_hash` column (e.g. a near-dup corpus) fails loudly here
    * instead of silently bootstrapping an empty seen-set.
    */
  private def initialSeen(spark: SparkSession,
      corpusPath: String): KeyValueGroupedDataset[String, SeenHash] = {
    import spark.implicits._
    val (fs, dir) = fsFor(spark, corpusPath)
    val seen =
      if (!hasData(fs, dir)) spark.emptyDataset[SeenHash] // first ever start
      else spark.read.parquet(corpusPath)
        .select(col("content_hash")).distinct().as[SeenHash]
    seen.groupByKey(_.content_hash)
  }

  /** The exact stage of the exact and curation sinks: each content hash
    * passes once, as its smallest-id doc, against the streaming seen-state
    * ([[SeenHashProcessor]]) bootstrapped by [[initialSeen]].
    */
  private def seenFirst[D <: HashedDoc: Encoder](spark: SparkSession,
      corpusPath: String, docs: Dataset[D]): DataFrame = {
    import spark.implicits._
    docs.groupByKey(_.content_hash)
      .transformWithState(new SeenHashProcessor[D],
        TimeMode.None(), OutputMode.Append(), initialSeen(spark, corpusPath))
      .toDF()
  }

  // ------------------------------------------------------ epoch claims

  /** Bookkeeping directory under the corpus: one zero-byte claim file
    * per epoch ever pinned. Underscore-prefixed, so parquet partition
    * discovery never sees it.
    */
  private val ClaimsDir = "_graft_epochs"

  private def claimedEpochs(fs: FileSystem, claims: Path): Seq[Long] =
    if (!fs.exists(claims)) Nil
    else fs.listStatus(claims).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("epoch-")) n.stripPrefix("epoch-").toLongOption else None
    }

  /** ATOMIC zero-byte create-exclusive, per filesystem:
    *  - HDFS: `fs.create(f, overwrite=false)` — the NameNode arbitrates,
    *    exactly one concurrent creator wins;
    *  - local FS: Hadoop's Raw/ChecksumFileSystem `create(overwrite=
    *    false)` is CHECK-THEN-ACT (an exists() test followed by a plain
    *    `FileOutputStream` open, which happily truncates a file another
    *    racer just created) — so go straight to NIO `Files.createFile`,
    *    which is `open(O_CREAT|O_EXCL)`: kernel-arbitrated, exactly one
    *    winner;
    *  - object stores (S3A): neither path is atomic (S3 has no
    *    create-exclusive primitive); concurrent claims there need an
    *    external arbiter — see the [[claimEpoch]] scaladoc.
    * Returns true iff THIS call created the file.
    */
  private[graft] def createExclusive(fs: FileSystem, f: Path): Boolean = fs match {
    case _: org.apache.hadoop.fs.LocalFileSystem | _: org.apache.hadoop.fs.RawLocalFileSystem =>
      try {
        java.nio.file.Files.createFile(java.nio.file.Paths.get(f.toUri.getPath))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    case _ =>
      try { fs.create(f, false).close(); true }
      catch {
        case e: java.io.IOException =>
          if (fs.exists(f)) false // lost the race for this value
          else throw e            // a real FS failure, not contention
      }
  }

  /** Escape hatch for [[requireAtomicClaims]]: set to `true` only when
    * fresh sink starts against the corpus are serialized by an external
    * arbiter (a scheduler lock, a DynamoDB/ZooKeeper mutex, …).
    */
  private[graft] val AllowNonAtomicClaimsKey =
    "spark.graft.corpus.allowNonAtomicClaims"

  /** Filesystem schemes with NO atomic create-exclusive primitive:
    * every one of these maps `create(overwrite=false)` to a
    * check-then-PUT, so two racing creators can both "win".
    */
  private[graft] val NonAtomicClaimSchemes: Set[String] =
    Set("s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs",
      "oss", "swift", "cosn")

  /** Epoch claims are only as safe as [[createExclusive]] is atomic —
    * on an object store it is NOT, and two concurrent fresh starts
    * could claim the SAME epoch and later dynamic-overwrite each
    * other's partitions. Round 9 documented that; this turns the
    * silent races-possible deployment into a refusal at sink start,
    * with [[AllowNonAtomicClaimsKey]] as the explicit opt-out for
    * externally-serialized deployments.
    */
  private[graft] def requireAtomicClaims(fs: FileSystem,
      allowOverride: Boolean): Unit = {
    val scheme = Option(fs.getScheme)
      .map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse("")
    require(allowOverride || !NonAtomicClaimSchemes.contains(scheme),
      s"corpus filesystem scheme '$scheme' has no atomic create-exclusive, so " +
        "concurrent fresh checkpoints could claim the SAME epoch and clobber " +
        "each other's partitions. Serialize fresh starts against this corpus " +
        s"with an external arbiter and set $AllowNonAtomicClaimsKey=true to " +
        "proceed.")
  }

  /** Atomically claim the first free epoch ≥ `floor` by creating
    * `<corpus>/_graft_epochs/epoch-N` exclusively ([[createExclusive]] —
    * NameNode-arbitrated on HDFS, O_EXCL on local FS), so two queries
    * pinning CONCURRENTLY against the same corpus get DISTINCT epochs
    * (the round-7 design derived the epoch from the corpus max alone,
    * and two fresh starts racing before either wrote data could both pin
    * the same value). On object stores (S3A) no create is exclusive —
    * concurrent fresh starts there must be serialized externally (the
    * same caveat every S3 writer-coordination scheme carries), and
    * [[requireAtomicClaims]] refuses the start outright unless that
    * arbiter is attested via [[AllowNonAtomicClaimsKey]]. A crash
    * after the claim but before the checkpoint marker orphans the
    * claim — a harmless gap in the epoch sequence.
    */
  private def claimEpoch(fs: FileSystem, corpusDir: Path, floor: Long): Long = {
    val claims = new Path(corpusDir, ClaimsDir)
    fs.mkdirs(claims)
    var cand = math.max(floor, claimedEpochs(fs, claims).foldLeft(-1L)(math.max) + 1L)
    while (true) {
      if (createExclusive(fs, new Path(claims, s"epoch-$cand"))) return cand
      cand += 1L
    }
    -1L // unreachable
  }

  /** The checkpoint's pinned epoch, or None for a fresh checkpoint
    * (empty/garbled marker == absent — crash between create and write
    * must re-derive, never brick).
    */
  private def pinnedEpoch(fs: FileSystem, cp: Path): Option[Long] =
    readText(fs, new Path(cp, "graft-epoch")).flatMap(_.toLongOption)

  /** Per-checkpoint EPOCH: the corpus is partitioned by
    * (`epoch`, `batch_id`) and a query only ever overwrites partitions
    * under its OWN epoch, so no sequence of checkpoints — fresh
    * adoptions, lost-checkpoint replays, or an OLD checkpoint resumed
    * after a newer query has grown the corpus — can dynamically
    * overwrite another query's keepers. (A single-level `base+batchId`
    * scheme still collided when an old checkpoint resumed with new
    * batches beyond its original range.) The epoch is pinned in
    * `<checkpoint>/graft-epoch` at first start, via the checkpoint's
    * Hadoop filesystem:
    *  - the value is CLAIMED in the corpus directory first
    *    ([[claimEpoch]]'s atomic create-exclusive), so concurrent fresh
    *    starts against one corpus pin distinct epochs;
    *  - a RESTART of the same checkpoint re-reads its pinned epoch —
    *    batch N keeps mapping to the same partition, preserving the
    *    replay idempotence of the dynamic-partition-overwrite sink;
    *  - an empty/unreadable marker (crash between create and write) is
    *    treated as ABSENT and re-derived — never a bricked checkpoint.
    */
  private def queryEpoch(spark: SparkSession, corpusPath: String,
      checkpoint: String): Long = {
    val cp = new Path(checkpoint)
    val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(cp, "graft-epoch")
    pinnedEpoch(fs, cp).getOrElse {
      val (corpusFs, corpusDir) = fsFor(spark, corpusPath)
      val floor =
        if (!hasData(corpusFs, corpusDir)) 0L
        else {
          val schema = spark.read.parquet(corpusPath).schema
          // a corpus from the pre-epoch single-level layout must be
          // refused LOUDLY: silently pinning epoch 0 would write a
          // conflicting two-level tree into the same directory and
          // break partition discovery for every subsequent reader
          require(schema.fieldNames.contains("epoch"),
            s"corpus at $corpusPath uses the legacy batch_id-only layout; " +
              "migrate each batch_id=N directory to epoch=0/batch_id=N " +
              "before pointing an epoch-aware sink at it")
          // partition discovery types partition cols as int — normalize
          val r = spark.read.parquet(corpusPath)
            .agg(max(col("epoch").cast("long"))).head()
          if (r.isNullAt(0)) 0L else r.getLong(0) + 1L
        }
      requireAtomicClaims(corpusFs,
        spark.conf.getOption(AllowNonAtomicClaimsKey).exists(_.toBoolean))
      val epoch = claimEpoch(corpusFs, corpusDir, floor)
      fs.mkdirs(cp)
      // write-then-rename: a crash mid-write must not leave a parseable
      // PREFIX (e.g. "1" of "12") that pins a wrong — possibly another
      // checkpoint's — epoch; rename is atomic on HDFS and local FS
      val tmp = new Path(cp, s"graft-epoch.tmp")
      writeText(fs, tmp, epoch.toString)
      if (fs.rename(tmp, marker)) epoch
      else { // lost a concurrent pin race on the CHECKPOINT — adopt the
        fs.delete(tmp, false) // winner; our claim stays as a gap
        queryEpoch(spark, corpusPath, checkpoint)
      }
    }
  }

  // ------------------------------------------- cross-epoch hash folding

  private val AbsorbedMarker = "graft-absorbed-epochs"

  /** The corpus (epoch, batch_id) partitions this CHECKPOINT's
    * seen-state already covers via the fresh-start initial-state
    * bootstrap — pinned in `<checkpoint>/graft-absorbed-epochs` when
    * the epoch itself is pinned (write-then-rename, same discipline as
    * the epoch marker; empty/garbled == absent == conservatively
    * nothing absorbed, which only costs redundant idempotent folding,
    * never a missed hash). Batch granularity, not epoch: an epoch
    * absorbed at fresh start can GROW afterwards when its own
    * checkpoint resumes and writes more batches — those new batches
    * are exactly as foreign as a new epoch.
    */
  private def readAbsorbed(fs: FileSystem, cp: Path): Set[(Long, Long)] =
    readText(fs, new Path(cp, AbsorbedMarker)).fold(Set.empty[(Long, Long)])(parsePairs)

  private def writeAbsorbed(fs: FileSystem, cp: Path,
      parts: Set[(Long, Long)]): Unit = {
    fs.mkdirs(cp)
    val tmp = new Path(cp, AbsorbedMarker + ".tmp")
    writeText(fs, tmp, pairLines(parts))
    if (!fs.rename(tmp, new Path(cp, AbsorbedMarker))) fs.delete(tmp, false)
  }

  /** Close the exact sink's cross-epoch dedup gap (the last
    * convention-guarded invariant of the sink family through round 8):
    * a RESUMED checkpoint restores its seen-state from the checkpoint —
    * `transformWithState` applies initial state only on a FRESH start —
    * so hashes ingested by OTHER writers while this checkpoint was down
    * were invisible, and interleaved writer checkpoints could admit
    * cross-epoch duplicates.
    *
    * Fix, per query START (not per batch): diff the corpus's actual
    * (epoch, batch_id) partitions (a two-level directory glob) against
    * what this checkpoint's state covers — the fresh-start bootstrap
    * set pinned in [[AbsorbedMarker]], plus every partition of its own
    * epoch (which it wrote itself, state intact) — and read JUST the
    * unseen partitions' `content_hash` column (a partition-pruned,
    * single-column scan), deduped and persisted for the life of the
    * query. Each micro-batch then anti-joins its state-approved keepers
    * against this set before writing. A doc dropped this way still
    * claims its hash in streaming state — exactly right: the hash IS in
    * the corpus (under the foreign partition), so later arrivals must
    * keep dropping even after the foreign set is unpersisted at
    * termination.
    *
    * Bounds: the scan is one-time per START and covers only partitions
    * this checkpoint's state has never seen — O(foreign keepers), not
    * O(corpus). Residual (documented, not silent): a partition written
    * CONCURRENTLY while this query runs is folded only up to the
    * start-time read — true live interleaving should be followed by
    * [[compactCorpus]].
    */
  private def foreignEpochHashes(spark: SparkSession, corpusPath: String,
      checkpoint: String, ownEpoch: Long): Option[DataFrame] = {
    val (fs, corpusDir) = fsFor(spark, corpusPath)
    val cp = new Path(checkpoint)
    val cpFs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val foreign = epochBatchDirs(fs, corpusDir, "epoch=*/batch_id=*")
      .filter(_._1 != ownEpoch) -- readAbsorbed(cpFs, cp)
    if (foreign.isEmpty) None
    else {
      Some(spark.read.parquet(corpusPath).filter(inPartitionPairs(foreign))
        .select(col("content_hash")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }
  }

  /** Unpersist query-lifetime caches when THIS query terminates (by id),
    * then deregister. Closes the round-8 nit: the benchmark-gram set —
    * and now the foreign-epoch hash set — were the only caches in the
    * engine without an unpersist path (bounded, but unbounded across
    * many sink starts in one long-lived session). Registered right
    * after `start()`, so a fast AvailableNow query can terminate — and
    * post its event — BEFORE registration; the isActive re-check after
    * registering closes that race (at worst both paths fire, and a
    * second unpersist on an uncached Dataset is a no-op).
    */
  private def unpersistOnTermination(spark: SparkSession,
      query: StreamingQuery, cached: Seq[DataFrame]): StreamingQuery = {
    if (cached.nonEmpty) {
      val qid = query.id
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == qid) {
            cached.foreach(_.unpersist(false))
            spark.streams.removeListener(this)
          }
      }
      spark.streams.addListener(listener)
      if (!query.isActive) {
        cached.foreach(_.unpersist(false))
        spark.streams.removeListener(listener)
      }
    }
    query
  }

  /** Every sink reads a STREAMING frame — a batch frame is refused here,
    * before any epoch claim, checkpoint marker or cache. Every sink
    * persists a FIXED corpus schema (`doc_id: long`, `text`,
    * plus their dedup columns and the (`epoch`, `batch_id`) partition
    * keys) — extra input columns are
    * NOT carried (join sidecar columns back by `doc_id` downstream), and
    * a non-integral `doc_id` is refused loudly here instead of failing
    * deep inside an encoder or casting to null.
    */
  private def requireDocSchema(docs: DataFrame): Unit = {
    import org.apache.spark.sql.types._
    require(docs.isStreaming,
      "corpus sink input must be a streaming DataFrame (readStream); a batch " +
        "frame has no micro-batches to ingest")
    require(docs.columns.contains("doc_id") && docs.columns.contains("text"),
      s"corpus sink input needs doc_id and text columns; got ${docs.columns.mkString(", ")}")
    val idType = docs.schema("doc_id").dataType
    require(Seq[DataType](LongType, IntegerType, ShortType, ByteType).contains(idType),
      s"corpus sink doc_id must be an integral type (got $idType) — string ids " +
        "would cast to null; map them to longs upstream")
  }

  // ------------------------------------------------- bucketed band index

  /** The near-dup sink's probe index: a sidecar parquet table under
    * `<corpus>/_graft_bands` (hidden from the corpus's own readers) with
    * one row per keeper band value, laid out
    * `pfx=<prefix>/epoch=N/batch_id=M/` where `pfx` is the band hash's
    * first `prefixLen` hex chars. A micro-batch's probe prunes to the
    * buckets its OWN band prefixes hit, so probe bytes-read per batch is
    * O(matching buckets), NOT O(corpus) — the same fix the exact sink
    * got via ValueState, expressed as partition pruning because a band
    * MEMBERSHIP probe (does any stored band equal any of this doc's
    * `bands` hashes?) spans keys and can't be a per-key state lookup.
    */
  private val BandsDir = "_graft_bands"

  /** Writer-task count for the corpus family's per-batch write (its
    * partition columns are the constant epoch/batch_id, so clustering
    * by them would serialize the whole batch into one task; a small
    * fixed fan-out bounds files-per-batch-dir without losing write
    * parallelism). Batch-sized data: 8 tasks is plenty at micro-batch
    * row counts; oversized batches split on maxRecordsPerFile, not on
    * task count.
    */
  private val CorpusWriteTasks = 8

  /** Cluster a frame for a dynamic-partition write (round 15,
    * measured): an unclustered write scatters every task into every
    * partition dir it holds rows for — one 500-doc curation replay
    * left ~2.5k parquet files of ~1 KB across the sidecar families
    * (8–30 per dir), and every later probe paid listing + footer per
    * file, every write a permissions fork per file. Clustering by the
    * VARYING partition columns gives each dir exactly one writer task
    * (per-dir rows are batch-bounded by construction, so
    * single-writer-per-dir holds at any corpus scale); all-constant
    * partition columns (the corpus family's epoch/batch_id) get a
    * fixed [[CorpusWriteTasks]] fan-out instead. `sortKeys` pins the
    * in-file row order so file bytes are deterministic across replays
    * (shuffle fetch order otherwise leaks into parquet row order).
    */
  private def clusterForWrite(df: DataFrame, varying: Seq[String],
      sortKeys: Seq[String]): DataFrame = {
    val re =
      if (varying.nonEmpty) df.repartition(varying.map(col): _*)
      else df.repartition(CorpusWriteTasks)
    if (sortKeys.isEmpty) re else re.sortWithinPartitions(sortKeys.map(col): _*)
  }

  /** One micro-batch's rows into its (`epoch`, `batch_id`) partition of
    * `target` with dynamic overwrite — every sink's per-batch write,
    * corpus and sidecars alike. `bucket` is the one partition column
    * that varies within the batch (clustered on, see [[clusterForWrite]]);
    * `sortKeys` pins the in-file row order.
    */
  private def writePartition(rows: DataFrame, target: String,
      bucket: Option[String], sortKeys: Seq[String], epoch: Long,
      batchId: Long): Unit =
    clusterForWrite(rows, bucket.toSeq, sortKeys)
      .withColumn("epoch", lit(epoch))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(bucket.toSeq ++ Seq("epoch", "batch_id"): _*)
      .parquet(target)

  /** A sidecar table's per-batch write: rows come from in-batch data (no
    * signature or fingerprint is recomputed), the table supplies its
    * bucket column and sort keys.
    */
  private def writeBatch(t: Sidecar, corpusPath: String, rows: DataFrame,
      epoch: Long, batchId: Long): Unit =
    writePartition(rows, t.path(new Path(corpusPath)).toString, t.bucket,
      t.sortKeys, epoch, batchId)

  /** Version tag of the TEXT CANON feeding shingle/fingerprint hashing
    * ([[graft.functions.Dedup.shingleCanon]] — NFC-first since round
    * 12). Stored band/winnow sidecar rows are hashes of canonicalized
    * text, so an index built under an older canon silently misses
    * near-dups whose canon output changed (decomposed-Unicode docs).
    * Pinning the version in the index meta turns that drift into the
    * same loud refuse-and-rebuild path as a k/bands mismatch: delete
    * the sidecar directory and the next query start re-adopts it from
    * stored text/band columns under the current canon. Bump whenever
    * the canon chain changes observable output.
    */
  private[graft] val CanonVersion = "nfc1"

  // ------------------------------------------------- sidecar families

  /** One probe/retrieval sidecar table kept beside the corpus under
    * `<corpus>/<dir>`, laid out `[<bucket>=…/]epoch=N/batch_id=M/`. The
    * four families — bands, winnow, cells, postings (with its stats
    * table as `dependent`) — share one crash-safe lifecycle, written
    * once against this description: [[ensure]] (pin, refuse, adopt),
    * [[reconcile]] (backfill, sweep), [[writeBatch]], [[removeAndReindex]]
    * and [[auditCorpus]].
    *  - `name`: the stem of the family's [[FaultInjection]] windows;
    *  - `label`: how refusals name it;
    *  - `bucket`: the leading partition column (`None`: epoch/batch_id only);
    *  - `sortKeys`: in-file row order of the per-batch write;
    *  - `meta`: the parameters pinned in `<dir>/_graft_meta` — probing
    *    rows built under other parameters is silent semantic drift, so
    *    a mismatch is refused; [[fromMeta]] rebuilds a family from it;
    *  - `rows`: sidecar rows derived from corpus rows that carry their
    *    (epoch, batch_id) columns (adoption, backfill, compaction, erasure);
    *  - `dependent`: a table written after this one and reconciled,
    *    re-indexed and audited with it;
    *  - `beforeAdopt`: run on (session, corpus path) before [[ensure]]
    *    builds the sidecar from an existing corpus (the band family's
    *    [[rebandStaleBatches]]).
    */
  private final case class Sidecar(name: String, label: String, dir: String,
      bucket: Option[String], sortKeys: Seq[String], meta: String,
      rows: DataFrame => DataFrame, dependent: Option[Sidecar] = None,
      beforeAdopt: (SparkSession, String) => Unit = (_, _) => ()) {
    def partCols: Seq[String] = bucket.toSeq ++ Seq("epoch", "batch_id")
    def bucketGlob: Option[String] = bucket.map(b => s"$b=*")
    def leafGlob: String = bucketGlob.fold("")(g => s"$g/") + "epoch=*/batch_id=*"
    def path(corpusDir: Path): Path = new Path(corpusDir, dir)
    /** This table, then its dependent: write and reconcile order. */
    def tables: Seq[Sidecar] = this +: dependent.toSeq
  }

  private val MetaFile = "_graft_meta"

  /** A bookkeeping file's trimmed UTF-8 text, or None when absent. */
  private def readText(fs: FileSystem, f: Path): Option[String] =
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(new String(in.readAllBytes(), "UTF-8").trim) finally in.close()
    }

  private def writeText(fs: FileSystem, f: Path, text: String): Unit = {
    val out = fs.create(f, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** The pinned parameter string of the sidecar at `idx`, if any. */
  private def readMeta(fs: FileSystem, idx: Path): Option[String] =
    readText(fs, new Path(idx, MetaFile))

  private def writeMeta(fs: FileSystem, idx: Path, meta: String): Unit =
    writeText(fs, new Path(idx, MetaFile), meta)

  /** The integer `key=` field of a pinned meta string. */
  private def metaInt(meta: String, key: String): Int =
    meta.split("\\s+").collectFirst {
      case s if s.startsWith(s"$key=") => s.stripPrefix(s"$key=").toInt
    }.getOrElse(throw new IllegalStateException(
      s"unparseable sidecar meta '$meta' (missing $key=)"))

  /** The family stored under `<corpus>/<dir>`, rebuilt from its pinned
    * `meta`. Parameters are parsed only when `rows` runs, so the layout
    * of a sidecar whose pin is missing or garbled is still available to
    * [[auditCorpus]].
    */
  private def fromMeta(dir: String, meta: String): Sidecar = {
    def p(key: String): Int = metaInt(meta, key)
    dir match {
      case BandsDir => Sidecar("bands", "band index", dir, Some("pfx"),
        Seq("bh", "band"), meta, bandIndexRows(_, p("bands"), p("prefixLen")),
        beforeAdopt = rebandStaleBatches(_, _, p("k"), p("bands"), p("shingleN")))
      case WinnowDir => Sidecar("winnow", "winnow index", dir, Some("pfx"),
        Seq("fp_hash", "doc_id"), meta,
        winnowIndexRows(_, p("k"), p("w"), p("prefixLen")))
      case CellsDir => Sidecar("cells", "cell index", dir, Some("cell"),
        Seq("doc_id"), meta, cellIndexRows)
      case PostingsDir => Sidecar("postings", "postings sidecar", dir,
        Some("bkt"), Nil, meta, postingsIndexRows(_, p("buckets")),
        Some(Sidecar("postings-stats", "stats twin", PostingsStatsDir, None,
          Nil, "", postingsStatsRows)))
    }
  }

  private def bandsSidecar(k: Int, bands: Int, shingleN: Int, prefixLen: Int): Sidecar =
    fromMeta(BandsDir,
      s"k=$k bands=$bands shingleN=$shingleN prefixLen=$prefixLen canon=$CanonVersion")

  private def winnowSidecar(k: Int, w: Int, prefixLen: Int): Sidecar =
    fromMeta(WinnowDir, s"k=$k w=$w prefixLen=$prefixLen canon=$CanonVersion")

  /** Cell assignment is only stable under the SAME centroids — the pin
    * carries their exact bytes, not just the shape.
    */
  private def cellsSidecar(cm: Array[Array[Double]]): Sidecar =
    fromMeta(CellsDir,
      s"nCells=${cm.length} dim=${cm.headOption.map(_.length).getOrElse(0)} " +
        s"centroids=${centroidFingerprint(cm)}")

  private def postingsSidecar(buckets: Int): Sidecar =
    fromMeta(PostingsDir, s"buckets=$buckets tok=ws-lower")

  /** The family pinned under `<corpus>/<dir>`, or None without a pin. */
  private def pinned(fs: FileSystem, corpusDir: Path, dir: String): Option[Sidecar] =
    readMeta(fs, new Path(corpusDir, dir)).map(fromMeta(dir, _))

  /** Every family among `dirs` whose directory exists, from its pin; a
    * directory without one is refused — re-indexing it blind would
    * leave rows of removed docs behind.
    */
  private def presentSidecars(fs: FileSystem, corpusDir: Path,
      dirs: Seq[String] = SidecarDirs): Seq[Sidecar] =
    dirs.filter(d => fs.exists(new Path(corpusDir, d))).map { d =>
      pinned(fs, corpusDir, d).getOrElse(throw new IllegalArgumentException(
        s"sidecar at ${new Path(corpusDir, d)} has no pinned meta — delete " +
          "the directory to trigger a rebuild"))
    }

  /** Ensure the family's sidecar exists, matches `fam.meta`, and covers
    * exactly the corpus's (epoch, batch_id) partitions; run at every
    * sink start and by the batch `build*Index` entries:
    *  - no corpus data yet → create the directory and pin the meta;
    *  - corpus data but no sidecar (an existing corpus being adopted)
    *    → run the family's `beforeAdopt` hook,
    *    build the whole sidecar from stored corpus rows into
    *    `<dir>.tmp`, pin it there and rename it in, so a crash mid-build
    *    never leaves a partial sidecar that later batches would trust (a
    *    partial probe side silently re-admits near-dups); dependents
    *    are reconciled after the rename;
    *  - sidecar present with a DIFFERENT pin → refuse loudly. The pins
    *    include the text-canon version ([[CanonVersion]]) and the exact
    *    centroid bytes, so a sidecar built before a canon change or
    *    under other centroids takes the same refuse-and-rebuild path;
    *  - sidecar present and matching → [[reconcile]] it and its
    *    dependents.
    */
  private def ensure(spark: SparkSession, corpusPath: String, fam: Sidecar): Unit = {
    val (fs, corpusDir) = fsFor(spark, corpusPath)
    val idx = fam.path(corpusDir)
    if (fs.exists(idx)) {
      val got = readMeta(fs, idx)
      val keys = fam.meta.split(" ").map(_.takeWhile(_ != '=')).mkString("/")
      require(got.contains(fam.meta),
        s"${fam.label} at $idx was built with ${got.getOrElse("unknown parameters")} " +
          s"but this sink uses ${fam.meta} — use matching $keys or delete the " +
          "directory to trigger a rebuild")
      fam.tables.foreach(reconcile(spark, corpusPath, _))
    } else if (hasData(fs, corpusDir)) {
      fam.beforeAdopt(spark, corpusPath)
      val tmp = new Path(corpusDir, fam.dir + ".tmp")
      fs.delete(tmp, true)
      clusterForWrite(fam.rows(spark.read.parquet(corpusPath)), fam.partCols, Nil)
        .write.mode("overwrite")
        .partitionBy(fam.partCols: _*)
        .parquet(tmp.toString)
      writeMeta(fs, tmp, fam.meta)
      // plantable: complete sidecar staged in .tmp, rename not yet done —
      // the re-run deletes the stage and rebuilds (atomicity proof)
      FaultInjection.maybeTrip(s"adopt-${fam.name}-before-rename")
      if (!fs.rename(tmp, idx)) {
        // lost a concurrent-adoption race; the winner's pin must match
        fs.delete(tmp, true)
        require(readMeta(fs, idx).contains(fam.meta),
          s"concurrent ${fam.label} build at $idx finished with different parameters")
      }
      // dependents AFTER the rename: a crash here leaves the sidecar
      // without them, which the next start's reconcile backfills
      fam.dependent.foreach(reconcile(spark, corpusPath, _))
    } else {
      fs.mkdirs(idx)
      writeMeta(fs, idx, fam.meta)
    }
  }

  /** Per-start reconcile of one sidecar table against the corpus. The
    * sinks write corpus THEN sidecars, so a crash between the two plus
    * checkpoint loss (the batch never re-fires) leaves a corpus
    * partition with no sidecar partition. Those batches — plus any a
    * PRIOR interrupted backfill left in the [[PendingBackfillFile]]
    * marker — are backfilled: the corpus partitions are read
    * directory-pruned, rows derived, and dynamic-overwritten, touching
    * only the leaves present in the derived rows. The marker goes
    * durable before the write and is cleared after it, so a crash
    * anywhere inside redoes exactly those pairs; windows
    * `backfill-<name>-marked` (marker durable, nothing written) and
    * `backfill-<name>-written` (leaves written, marker not cleared).
    *
    * The mirror: sidecar batches the corpus no longer has (a batch
    * removed out of band) are swept — stale band/fingerprint/cell rows
    * would FALSELY drop future near-dups of docs that no longer exist,
    * stale postings would score them. Orphan-pair granularity; stale
    * extra rows inside a pair both sides still have are healed by the
    * pending marker.
    */
  private def reconcile(spark: SparkSession, corpusPath: String, t: Sidecar): Unit = {
    val (fs, corpusDir) = fsFor(spark, corpusPath)
    val idx = t.path(corpusDir)
    val marker = new Path(idx, PendingBackfillFile)
    val present = epochBatchDirs(fs, idx, t.leafGlob)
    val corpusPairs = epochBatchDirs(fs, corpusDir, "epoch=*/batch_id=*")
    // the marker is read unconditionally: an interrupted prior backfill
    // must be redone even when the existence diff is clean
    val todo = (corpusPairs -- present) ++ readPendingBackfill(fs, idx)
    if (todo.nonEmpty) {
      writeText(fs, marker, pairLines(todo) + "\n")
      FaultInjection.maybeTrip(s"backfill-${t.name}-marked")
      clusterForWrite(
          t.rows(spark.read.parquet(corpusPath).filter(inPartitionPairs(todo))),
          t.partCols, Nil)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(t.partCols: _*)
        .parquet(idx.toString)
      FaultInjection.maybeTrip(s"backfill-${t.name}-written")
    }
    // done, or a content-empty marker (crash mid-create) carrying no work
    fs.delete(marker, false)
    sweepPairDirs(fs, idx, t.bucketGlob, present -- corpusPairs)
  }

  private def bandIndexSchema(): StructType = StructType(Seq(
    StructField("band", IntegerType), StructField("bh", StringType),
    StructField("pfx", StringType), StructField("epoch", LongType),
    StructField("batch_id", LongType)))

  /** The (epoch, batch_id) pairs whose partition directories exist
    * under `root`, matched by `glob` (metadata-only: two directory
    * levels listed, no file reads). For the sidecar indexes the glob
    * has a leading bucket level (`pfx=*` / `cell=*`); the pair is
    * always the trailing `epoch=`/`batch_id=` components.
    */
  private def epochBatchDirs(fs: FileSystem, root: Path, glob: String): Set[(Long, Long)] =
    Option(fs.globStatus(new Path(root, glob))).fold(Set.empty[(Long, Long)]) {
      _.flatMap { st =>
        for {
          b <- st.getPath.getName.stripPrefix("batch_id=").toLongOption
          e <- st.getPath.getParent.getName.stripPrefix("epoch=").toLongOption
        } yield (e, b)
      }.toSet
    }

  /** `epoch,batch_id` lines, sorted — the pair-list file format. */
  private def pairLines(pairs: Set[(Long, Long)]): String =
    pairs.toSeq.sorted.map { case (e, b) => s"$e,$b" }.mkString("\n")

  private def parsePairs(text: String): Set[(Long, Long)] =
    text.linesIterator.flatMap { line =>
      line.split(",", 2) match {
        case Array(e, b) =>
          for (el <- e.trim.toLongOption; bl <- b.trim.toLongOption) yield (el, bl)
        case _ => None
      }
    }.toSet

  /** The in-flight-backfill marker: `<idx>/_backfill_pending`, one
    * `epoch,batch_id` line per pair being backfilled. `_`-prefixed, so
    * parquet readers and [[hasData]] never see it. Written BEFORE the
    * backfill's dynamic overwrite, deleted after it commits — so a
    * crash ANYWHERE inside the backfill leaves the marker, and the next
    * start redoes exactly those pairs (the overwrite is idempotent:
    * rows re-derive from the same corpus partitions). This closes the
    * TORN-backfill residual of the existence diff in [[reconcile]]: a
    * backfill that committed SOME bucket leaves of a batch used to make
    * the pair look present to the existence diff and the tear went
    * permanent; with the marker, presence is irrelevant — pending pairs
    * are always redone in full.
    */
  private val PendingBackfillFile = "_backfill_pending"

  private def readPendingBackfill(fs: FileSystem, idx: Path): Set[(Long, Long)] =
    readText(fs, new Path(idx, PendingBackfillFile)).fold(Set.empty[(Long, Long)])(parsePairs)

  /** Adoption-time canon/parameter heal for a banded corpus, run as the
    * band family's `beforeAdopt` hook in [[ensure]]: recompute
    * the `band0..` columns from stored TEXT under the CURRENT canon and
    * LSH parameters ([[Dedup.lshSignature]] — the [[rehashCorpus]]
    * analogue for near-dup signatures) and rewrite only the (epoch,
    * batch_id) partitions where any stored band differs, so the index
    * built next explodes current-canon columns and corpus and sidecar
    * stay self-consistent. Stored bands are DATA: a pre-NFC
    * non-ASCII corpus (or one banded under other k/bands/shingleN)
    * carries old-canon hashes, and an index built by trusting them
    * would silently miss decomposed-Unicode near-dups forever — exactly
    * the drift [[CanonVersion]] exists to prevent (round-13 ADVICE).
    * Current-canon corpora (all-ASCII included) find zero stale rows
    * and rewrite nothing, so healthy adoption cost is one signature
    * pass. A whole-corpus parameter migration trips
    * [[guardAffectedPairs]] loudly rather than launching one unbounded
    * rewrite job; a corpus without band columns (e.g. an exact-dedup
    * corpus at this path) fails loudly on the column check.
    */
  private def rebandStaleBatches(spark: SparkSession, corpusPath: String,
      k: Int, bands: Int, shingleN: Int): Unit = {
    import spark.implicits._
    val corpus = spark.read.parquet(corpusPath)
    val bandCols = (0 until bands).map(b => s"band$b")
    require(bandCols.forall(corpus.columns.contains),
      s"corpus at $corpusPath lacks ${bandCols.filterNot(corpus.columns.contains).mkString(",")} — " +
        "not a banded near-dup corpus (adoption needs stored band columns or text)")
    // stored bands step aside; lshSignature recomputes fresh ones from
    // text under the current canon (persisted — compare + rewrite reuse it)
    val renamed = bandCols.foldLeft(corpus)(
      (df, c) => df.withColumnRenamed(c, s"__old_$c"))
    val sig = Dedup.lshSignature(renamed, "text", k, bands, shingleN)
    try {
      val staleRow = bandCols.map(c => !(col(c) <=> col(s"__old_$c")))
        .reduce(_ || _)
      val stale = sig.filter(staleRow)
        .select(col("epoch").cast("long"), col("batch_id").cast("long"))
        .distinct().as[(Long, Long)].collect().toSet
      if (stale.nonEmpty) {
        guardAffectedPairs(spark, stale.size, "band-index adoption re-band")
        val healed = sig.filter(inPartitionPairs(stale))
          .drop(bandCols.map(c => s"__old_$c"): _*)
          .localCheckpoint(true)
        try clusterForWrite(healed, Seq("epoch", "batch_id"), Seq("doc_id"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("epoch", "batch_id")
          .parquet(corpusPath)
        finally Dedup.freeLocalCheckpoint(healed)
      }
    } finally sig.unpersist(false)
    // plantable: corpus partitions re-banded, index not yet built —
    // the re-run finds zero stale rows and proceeds to the build
    FaultInjection.maybeTrip("adopt-bands-after-reband")
  }

  /** Band-index rows from corpus rows carrying `band0..` columns. */
  private def bandIndexRows(corpus: DataFrame, bands: Int, prefixLen: Int): DataFrame =
    Dedup.bandsLong(
        corpus.select((0 until bands).map(b => col(s"band$b")) :+
          col("epoch").cast("long").as("epoch") :+
          col("batch_id").cast("long").as("batch_id"): _*),
        bands, Seq("epoch", "batch_id"))
      .withColumn("pfx", substring(col("bh"), 1, prefixLen))
      .select("band", "bh", "pfx", "epoch", "batch_id")

  /** The per-batch benchmark-contamination gate (qd22's
    * [[TextAnalysis.decontaminate]] as a sink stage): a batch doc
    * sharing ANY token `n`-gram with the benchmark set is dropped
    * before it can reach the corpus — the STREAMING form of the
    * batch-only qd38 report (which can only tell you AFTER the fact
    * that an eval row leaked into training data). The gram set is built
    * once at query start (eval benchmarks are tiny) and persisted; each
    * batch pays one batch-sized gram explode + a broadcast semi-probe —
    * the corpus is never touched, nothing shuffles but batch ids.
    */
  private def contaminationGate(docs: DataFrame,
      benchGrams: Option[DataFrame], n: Int): DataFrame =
    benchGrams.fold(docs) { bg =>
      val hit = docs.select(col("doc_id"),
          explode(NativeExpressions.shingleHashes(
            graft.functions.Dedup.shingleCanon(col("text")), n)).as("__g"))
        .join(broadcast(bg), "__g")
        .select(col("doc_id")).distinct()
      docs.join(hit, Seq("doc_id"), "left_anti")
    }

  /** Distinct benchmark gram hashes, persisted for the life of the
    * query (re-shingling the benchmark every micro-batch would re-read
    * its source every trigger). Lifetime: benchmark-sized (KBs–MBs),
    * unpersisted when the owning query terminates
    * ([[unpersistOnTermination]]) — a restarted sink rebuilds it at
    * start, so long-lived sessions cycling many gated sinks no longer
    * accumulate dead gram sets.
    */
  private def benchGramSet(benchmark: Option[DataFrame],
      benchTextCol: String, n: Int): Option[DataFrame] =
    benchmark.map { b =>
      b.select(explode(NativeExpressions.shingleHashes(
          graft.functions.Dedup.shingleCanon(col(benchTextCol)), n)).as("__g"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  // ------------------------------------------------ corpus-sink pipeline

  /** What a corpus sink's micro-batches read for the life of one query:
    * the pinned epoch and the query-lifetime caches (the benchmark gram
    * set; for exact seen-state, the resume-time foreign-epoch hashes).
    */
  private final case class SinkRun(corpusPath: String, epoch: Long,
      foreignHashes: Option[DataFrame], benchGrams: Option[DataFrame],
      benchGramN: Int) {
    /** A batch's docs minus foreign-epoch hashes and contaminated docs —
      * both after the exact stage, so a dropped doc still claims its
      * hash (see [[foreignEpochHashes]] and the exact sink's scaladoc).
      */
    def landed(batch: DataFrame): DataFrame =
      contaminationGate(foreignHashes.fold(batch)(fh =>
        batch.join(fh, Seq("content_hash"), "left_anti")), benchGrams, benchGramN)
  }

  /** One micro-batch as its probe stages see it. Every frame a stage
    * persists or checkpoints goes on `release` the moment it exists;
    * [[probeBatch]] runs them all in registration order on the way out,
    * so a batch that fails mid-probe (or at a planted window) does not
    * leak resident RDDs until session end.
    */
  private final class Batch(val spark: SparkSession, val corpusPath: String,
      val epoch: Long, val batchId: Long) {
    private val frees = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    def release(free: => Unit): Unit = frees += (() => free)
    /** Runs every release; one that throws does not block the rest. */
    def releaseAll(): Unit = frees.foreach(f => try f() catch { case _: Exception => () })
  }

  /** One probe family's per-batch drop stage, defined once beside its
    * [[Sidecar]] entry ([[bandStage]], [[winnowStage]], [[cellStage]])
    * and run by [[probeBatch]] for every probing sink:
    *  - `clock`: the [[StageClock]] label its probe bills (and the final
    *    keeper cut, when the stage is last and leaves it lazy);
    *  - `window`: the stem of its `curation-after-<window>-write` window;
    *  - `probe`: over the previous stage's survivors, this stage's
    *    survivors and the sidecar rows of the batch's final keepers.
    */
  private final case class Stage(sidecar: Sidecar, clock: String, window: String,
      probe: (Batch, DataFrame) => (DataFrame, DataFrame => DataFrame))

  /** Distinct values of a one-column frame — the metadata-sized driver
    * collect (band/fingerprint prefixes, cell ids) that prunes a probe.
    */
  private def distinctKeys[T](keys: DataFrame, enc: Encoder[T]): Seq[T] =
    keys.distinct().as[T](enc).collect().toSeq

  /** One micro-batch of a probing sink, every stage seeing only the
    * previous stage's survivors:
    *  1. the landed docs ([[SinkRun.landed]]), cut once (billed "gate");
    *  2. each stage's probe;
    *  3. the final keepers cut once — a stage that ends in a checkpoint
    *     (the band stage's eager probe) already is one;
    *  4. the corpus partition, then each stage's sidecar partition in
    *     stage order, with dynamic overwrite (billed "write"). A window
    *     follows each write: `curation-after-corpus-write`, then
    *     `curation-after-<window>-write` — the writes are not atomic
    *     against the corpus nor among themselves, and an uncommitted
    *     batch re-fires on restart and rewrites every partition.
    */
  private def probeBatch(batch: DataFrame, batchId: Long, run: SinkRun,
      stages: Seq[Stage]): Unit = {
    val b = new Batch(batch.sparkSession, run.corpusPath, run.epoch, batchId)
    try {
      val gated = StageClock.time("gate")(run.landed(batch).localCheckpoint(true))
      b.release(Dedup.freeLocalCheckpoint(gated))
      val (survivors, rows) = stages.foldLeft((gated, Vector.empty[DataFrame => DataFrame])) {
        case ((in, rs), s) =>
          val (kept, r) = s.probe(b, in)
          (kept, rs :+ r)
      }
      val keepers = survivors.queryExecution.logical match {
        case _: org.apache.spark.sql.execution.LogicalRDD => survivors
        case _ =>
          val cut = StageClock.time(stages.last.clock)(survivors.localCheckpoint(true))
          b.release(Dedup.freeLocalCheckpoint(cut))
          cut
      }
      StageClock.time("write") {
        writePartition(keepers, run.corpusPath, None, Seq("doc_id"), run.epoch, batchId)
        FaultInjection.maybeTrip("curation-after-corpus-write")
        stages.zip(rows).foreach { case (s, r) =>
          writeBatch(s.sidecar, run.corpusPath, r(keepers), run.epoch, batchId)
          FaultInjection.maybeTrip(s"curation-after-${s.window}-write")
        }
      }
    } finally b.releaseAll()
  }

  /** The one start sequence of every corpus sink:
    *  1. [[resumePendingErasure]] — an interrupted erasure finishes
    *     before a reconcile backfill could re-derive sidecar rows from
    *     still-doomed corpus rows;
    *  2. with exact seen-state (`rail` names the sink in refusals): the
    *     erasure rail ([[checkErasureRail]]) — after the resume, so a
    *     resume that heals an erasure refuses itself;
    *  3. [[queryEpoch]], then [[ensure]] per sidecar table;
    *  4. with exact seen-state on a fresh checkpoint: pin what the
    *     initial-state bootstrap is about to absorb — every (epoch,
    *     batch_id) partition with data right now. A partition landing
    *     before the first batch's bootstrap read is at worst
    *     under-recorded, and a later resume re-folds it (idempotent);
    *  5. `stream`, built now, after any adoption rewrote the corpus;
    *  6. under [[withStartConfs]]: the query-lifetime caches, built
    *     inside the try so a refused or failed start unpersists them,
    *     then `foreachBatch(batch)` and `start()`;
    *  7. [[unpersistOnTermination]].
    * Billed to [[StageClock]] as "start" (not floor-pinned): the sf1
    * floors showed the curation capstone is RESTART-overhead-bound, so
    * the per-start reconcile work needs its own visible share in every
    * replay's stage_sec.
    */
  private def startCorpusSink(spark: SparkSession, corpusPath: String,
      checkpoint: String, tables: Seq[Sidecar], rail: Option[String],
      benchmark: Option[DataFrame], benchTextCol: String, benchGramN: Int,
      trigger: Trigger)(stream: => DataFrame)(
      batch: (SinkRun, DataFrame, Long) => Unit): StreamingQuery = {
    val cp = new Path(checkpoint)
    val cpFs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (epoch, docs) = StageClock.time("start") {
      resumePendingErasure(spark, corpusPath)
      val fresh = pinnedEpoch(cpFs, cp).isEmpty
      rail.foreach(checkErasureRail(spark, corpusPath, cpFs, cp, fresh, _))
      val e = queryEpoch(spark, corpusPath, checkpoint)
      tables.foreach(ensure(spark, corpusPath, _))
      if (rail.isDefined && fresh) {
        val (corpusFs, corpusDir) = fsFor(spark, corpusPath)
        writeAbsorbed(cpFs, cp,
          epochBatchDirs(corpusFs, corpusDir, "epoch=*/batch_id=*"))
      }
      (e, stream)
    }
    withStartConfs(spark, rocksDb = rail.isDefined) {
      var cached: Seq[DataFrame] = Nil
      try {
        val q = StageClock.time("start") {
          val benchGrams = benchGramSet(benchmark, benchTextCol, benchGramN)
          cached = benchGrams.toSeq
          val foreignHashes =
            if (rail.isEmpty) None
            else foreignEpochHashes(spark, corpusPath, checkpoint, epoch)
          cached = cached ++ foreignHashes
          val run = SinkRun(corpusPath, epoch, foreignHashes, benchGrams, benchGramN)
          docs.writeStream
            .outputMode("append")
            .trigger(trigger)
            .option("checkpointLocation", checkpoint)
            .foreachBatch((b: DataFrame, batchId: Long) => batch(run, b, batchId))
            .start()
        }
        unpersistOnTermination(spark, q, cached)
      } catch {
        case t: Throwable =>
          cached.foreach(_.unpersist(false))
          throw t
      }
    }
  }

  /** [[startCorpusSink]] with [[probeBatch]] over `stages` as the batch
    * body and the stages' sidecars as the ensured tables.
    */
  private def startProbingSink(spark: SparkSession, corpusPath: String,
      checkpoint: String, stages: Seq[Stage], rail: Option[String],
      benchmark: Option[DataFrame], benchTextCol: String, benchGramN: Int,
      trigger: Trigger)(stream: => DataFrame): StreamingQuery =
    startCorpusSink(spark, corpusPath, checkpoint, stages.map(_.sidecar), rail,
      benchmark, benchTextCol, benchGramN, trigger)(stream)(
      (run, batch, batchId) => probeBatch(batch, batchId, run, stages))

  /** The per-batch probe side: stored band rows from buckets matching
    * the batch's own prefixes, minus the batch's own (epoch, batch_id)
    * partition (an intact-checkpoint REPLAY must not probe against the
    * partition it is about to rewrite). `pfx`/`epoch`/`batch_id` are
    * partition columns, so these filters prune DIRECTORIES — the scan
    * never touches non-matching buckets, and feeding it an explicit
    * schema keeps an empty index (fresh corpus) a plain empty relation.
    */
  private[streaming] def probeBands(spark: SparkSession, corpusPath: String,
      epoch: Long, batchId: Long, pfxs: Seq[String]): DataFrame =
    readSidecar(spark, new Path(new Path(corpusPath), BandsDir),
        bandIndexSchema())
      .filter(col("pfx").isin(pfxs: _*) &&
        !(col("epoch") === lit(epoch) && col("batch_id") === lit(batchId)))
      .select(col("band"), col("bh"))

  /** The band family's drop stage ([[Dedup.incrementalNearDupFromSig]],
    * the oracle-checked qd37 probe): signatures once (persisted), then
    * the batch's band prefixes — ≤16^prefixLen distinct single-chunk
    * strings, a metadata-sized driver collect — prune the probe to the
    * matching `pfx=` buckets. A doc band-matching the corpus or a
    * smaller-id batch doc is dropped; survivors come back checkpointed
    * with their `band0..` columns, which the corpus stores and the
    * sidecar rows explode.
    */
  private def bandStage(k: Int, bands: Int, shingleN: Int, prefixLen: Int): Stage =
    Stage(bandsSidecar(k, bands, shingleN, prefixLen), "band", "band", { (b, in) =>
      val kept = StageClock.time("band") {
        val sig = Dedup.lshSignature(in, "text", k, bands, shingleN)
        val pfxs = distinctKeys(sig.select(explode(array((0 until bands).map(i =>
          substring(col(s"band$i"), 1, prefixLen)): _*)).as("p")), Encoders.STRING)
        Dedup.incrementalNearDupFromSig(sig,
          probeBands(b.spark, b.corpusPath, b.epoch, b.batchId, pfxs), "doc_id", bands)
      }
      b.release(Dedup.freeLocalCheckpoint(kept))
      (kept, keepers => Dedup.bandsLong(keepers, bands, Nil)
        .withColumn("pfx", substring(col("bh"), 1, prefixLen)))
    })

  /** Start the NEAR-dup-deduped corpus sink — the fuzzy form of
    * [[startDedupedCorpusSink]]: a batch doc is dropped when it LSH
    * band-matches the already-ingested corpus (near-dups arriving in
    * later micro-batches are caught, not just exact copies) or a
    * smaller-id doc of its own batch. Composes
    * [[Dedup.incrementalNearDupFromSig]] (the oracle-checked batch
    * probe, qd37) with the batch_id-partition exactly-once sink; each
    * batch's keepers land in the corpus (with their `band0..` columns)
    * AND in the bucketed [[BandsDir]] probe index.
    *
    * Replay: with the checkpoint INTACT (foreachBatch re-fired after a
    * sink-committed crash) the pinned [[queryEpoch]] maps the batch to
    * its original (epoch, batch_id) partition, the probe excludes that
    * partition, and the dynamic overwrite rewrites corpus AND index
    * partitions with identical content. With the checkpoint LOST, the
    * fresh epoch owns a new partition subtree, so the replayed docs
    * band-match their own originals in the probe and the batch writes
    * nothing — either way the corpus is byte-identical, and no query can
    * overwrite another epoch's partitions. A crash BETWEEN the corpus
    * write and the index write re-fires the batch (the checkpoint offset
    * commits only after foreachBatch returns), which rewrites both
    * partitions identically — the index can never stay behind the corpus.
    *
    * Scale note: the probe reads only the index buckets matching the
    * batch's own band prefixes — per-batch probe bytes are
    * O(matching buckets), independent of how many OTHER buckets the
    * corpus has grown (StreamingSpec pins this with a bytes-read
    * listener). Bucket fan-out is 16^prefixLen; raise `prefixLen` to 2
    * (256 buckets) when corpus band rows per bucket get large enough
    * that a trickle batch's probe still reads too much.
    */
  def startNearDupCorpusSink(docs: DataFrame, corpusPath: String,
      checkpoint: String, minTokens: Int = 1, k: Int = 16, bands: Int = 4,
      shingleN: Int = 3, prefixLen: Int = 1,
      benchmark: Option[DataFrame] = None, benchTextCol: String = "text",
      benchGramN: Int = 8,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    requireDocSchema(docs)
    require(prefixLen >= 1 && prefixLen <= 8, s"prefixLen must be in [1,8], got $prefixLen")
    startProbingSink(docs.sparkSession, corpusPath, checkpoint,
      Seq(bandStage(k, bands, shingleN, prefixLen)), None,
      benchmark, benchTextCol, benchGramN, trigger)(
      docs.filter(TextAnalysis.tokenCount(col("text")) >= minTokens)
        .select(col("doc_id").cast("long").as("doc_id"), col("text")))
  }

  // ------------------------------------- winnowing (containment) sink

  /** The containment sink's probe index: `<corpus>/_graft_winnow`, one
    * row per kept doc's distinct winnowing fingerprint hash
    * ([[Dedup.winnowFingerprints]], the qd51 kernel), laid out
    * `pfx=<prefix>/epoch=N/batch_id=M/` — the [[BandsDir]] bucketing
    * discipline with the fp hash's leading hex chars as the bucket.
    * Every row of one fingerprint hash lands in one bucket, so (a) a
    * batch's probe prunes to the bucket DIRECTORIES its own
    * fingerprints hit — probe bytes per batch are O(matching buckets),
    * independent of corpus growth — and (b) a probed fingerprint's
    * document frequency is complete within the probe result, so the
    * maxDf boilerplate cap needs no second corpus pass.
    */
  private val WinnowDir = "_graft_winnow"

  private def winnowIndexSchema(): StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("fp_hash", StringType),
    StructField("pfx", StringType), StructField("epoch", LongType),
    StructField("batch_id", LongType)))

  /** Winnow-index rows recomputed from corpus text — fingerprints are a
    * pure function of text + (k, w), so adoption/backfill/compaction
    * need no stored columns beyond the sink's own (doc_id, text).
    * Fingerprinting is keyed by the full (doc_id, epoch, batch_id)
    * struct so concurrent epochs sharing a doc_id cannot collide.
    */
  private def winnowIndexRows(corpus: DataFrame, k: Int, w: Int,
      prefixLen: Int): DataFrame =
    Dedup.winnowFingerprints(
        corpus.select(struct(col("doc_id").cast("long").as("doc_id"),
          col("epoch").cast("long").as("epoch"),
          col("batch_id").cast("long").as("batch_id")).as("__k"),
          col("text")),
        "__k", "text", k, w)
      .select(col("doc_id.doc_id").as("doc_id"),
        col("doc_id.epoch").as("epoch"),
        col("doc_id.batch_id").as("batch_id"), col("fp_hash"))
      .distinct()
      .withColumn("pfx", substring(col("fp_hash"), 1, prefixLen))
      .select("doc_id", "fp_hash", "pfx", "epoch", "batch_id")

  /** Stored fingerprint rows from buckets matching the batch's own
    * prefixes, minus the batch's own partition (replay must not probe
    * what it is about to rewrite). `pfx`/`epoch`/`batch_id` prune
    * directories.
    */
  private[graft] def probeWinnow(spark: SparkSession, corpusPath: String,
      epoch: Long, batchId: Long, pfxs: Seq[String]): DataFrame =
    readSidecar(spark, new Path(new Path(corpusPath), WinnowDir),
        winnowIndexSchema())
      .filter(col("pfx").isin(pfxs: _*) &&
        !(col("epoch") === lit(epoch) && col("batch_id") === lit(batchId)))
      .select(col("doc_id").as("__cid"), col("fp_hash"))

  /** The winnow family's drop stage (the qd53 candidate rule): a doc
    * sharing ≥ `minShared` fingerprints with one stored doc, or with a
    * smaller-id batch doc, is dropped; fingerprints carried by more than
    * `maxDf` docs (stored + batch) are boilerplate and excluded first.
    * A probed fingerprint's document frequency is complete within the
    * probe result (one fingerprint, one bucket), so the cap needs no
    * second corpus pass. Survivors stay lazy.
    */
  private def winnowStage(k: Int, w: Int, minShared: Int, maxDf: Int,
      prefixLen: Int): Stage =
    Stage(winnowSidecar(k, w, prefixLen), "winnow", "winnow", { (b, in) =>
      // per-doc distinct fingerprint hashes, persisted: the prefix
      // collect, the cross-corpus probe, the within-batch self-join
      // and the sidecar rows all consume this frame
      val fps = Dedup.winnowFingerprints(in.select(col("doc_id"), col("text")),
          "doc_id", "text", k, w)
        .select(col("doc_id"), col("fp_hash")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      b.release(fps.unpersist(false))
      // eager: the probe result feeds TWO branches (the df cap and the
      // pair join) — checkpointing reads the bucket files exactly once
      // per batch (and makes the pruning proofs' bytes deterministic)
      val stored = StageClock.time("winnow") {
        val pfxs = distinctKeys(
          fps.select(substring(col("fp_hash"), 1, prefixLen).as("p")), Encoders.STRING)
        probeWinnow(b.spark, b.corpusPath, b.epoch, b.batchId, pfxs)
          .localCheckpoint(true)
      }
      b.release(Dedup.freeLocalCheckpoint(stored))
      val hot = fps.select(col("fp_hash"))
        .union(stored.select(col("fp_hash")))
        .groupBy(col("fp_hash")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxDf).select("fp_hash")
      val bf = fps.join(hot, Seq("fp_hash"), "left_anti")
      val sf = stored.join(hot, Seq("fp_hash"), "left_anti")
      val crossHit = bf.join(sf, "fp_hash")
        .groupBy(col("doc_id"), col("__cid"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= minShared)
        .select(col("doc_id")).distinct()
      val withinHit = bf.select(col("doc_id").as("__ia"), col("fp_hash"))
        .join(bf.select(col("doc_id").as("__ib"), col("fp_hash")), "fp_hash")
        .filter(col("__ia") < col("__ib"))
        .groupBy(col("__ia"), col("__ib"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= minShared)
        .select(col("__ib").as("doc_id")).distinct()
      (in.join(crossHit, Seq("doc_id"), "left_anti")
          .join(withinHit, Seq("doc_id"), "left_anti"),
        keepers => keepers.select(col("doc_id")).join(fps, "doc_id")
          .withColumn("pfx", substring(col("fp_hash"), 1, prefixLen)))
    })

  /** Start the CONTAINMENT-deduped corpus sink — the fourth sink family
    * (exact / near-dup / semantic / containment): a batch doc is
    * dropped when it shares ≥ `minShared` winnowing fingerprints with
    * any single already-ingested doc (the qd53 candidate rule — the
    * winnowing guarantee fires on any shared run of ≥ w+k−1 tokens
    * REGARDLESS of the two docs' sizes, so this catches the
    * quote/subset arrivals that resemblance-tuned LSH banding
    * structurally misses) or with a smaller-id doc of its own batch.
    * Fingerprints carried by more than `maxDf` docs (stored + batch)
    * are boilerplate, not quotation evidence, and are excluded before
    * the pair count. Docs too short to yield a full window (< w+k−1
    * tokens) produce no fingerprints and are always admitted — route
    * them through the exact sink's hash if short-dup pressure matters.
    *
    * Replay/exactly-once: [[startNearDupCorpusSink]]'s discipline —
    * pinned epoch, probe excludes the batch's own partition, corpus
    * then index written with dynamic overwrite, crash between the two
    * re-fires the batch and rewrites both identically.
    *
    * Scale note: the probe reads ONLY the `pfx=` buckets matching the
    * batch's own fingerprint prefixes (StreamingSpec pins bytes-read);
    * per-batch cost is batch fingerprinting (the narrow qd51 kernel) +
    * a bucket-pruned equi-join on the fingerprint hash. Bucket fan-out
    * is 16^prefixLen.
    */
  def startContainmentCorpusSink(docs: DataFrame, corpusPath: String,
      checkpoint: String, minTokens: Int = 1, k: Int = 3, w: Int = 4,
      minShared: Int = 2, maxDf: Int = 50, prefixLen: Int = 1,
      benchmark: Option[DataFrame] = None, benchTextCol: String = "text",
      benchGramN: Int = 8,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    requireDocSchema(docs)
    require(prefixLen >= 1 && prefixLen <= 8, s"prefixLen must be in [1,8], got $prefixLen")
    require(minShared >= 1 && maxDf >= 2,
      s"need minShared >= 1, maxDf >= 2 (got $minShared, $maxDf)")
    startProbingSink(docs.sparkSession, corpusPath, checkpoint,
      Seq(winnowStage(k, w, minShared, maxDf, prefixLen)), None,
      benchmark, benchTextCol, benchGramN, trigger)(
      docs.filter(TextAnalysis.tokenCount(col("text")) >= minTokens)
        .select(col("doc_id").cast("long").as("doc_id"), col("text")))
  }

  /** [[compactNearDupCorpus]] for a CONTAINMENT-sink corpus: candidate
    * pairs are shared-fingerprint pairs over fingerprints RECOMPUTED
    * from stored text ([[winnowIndexRows]]' derivation — the qd53
    * candidate rule with the same minShared/maxDf policy as the sink's
    * probe), clustered transitively, smallest (doc_id, epoch, batch_id)
    * kept per cluster. Keeps `_graft_winnow` in step; idempotent;
    * returns removed-row count.
    */
  def compactContainmentCorpus(spark: SparkSession, corpusPath: String,
      minShared: Int = 2, maxDf: Int = 50, maxIter: Int = 20): Long = {
    val (fs, corpusDir) = fsFor(spark, corpusPath)
    if (!hasData(fs, corpusDir)) return 0L
    val fam = pinned(fs, corpusDir, WinnowDir).getOrElse(throw new IllegalArgumentException(
      s"no winnow index at ${new Path(corpusDir, WinnowDir)} — " +
        "compactContainmentCorpus is for corpora written by startContainmentCorpusSink"))
    val (k, w) = (metaInt(fam.meta, "k"), metaInt(fam.meta, "w"))
    val corpus = spark.read.parquet(corpusPath)
      .withColumn("epoch", col("epoch").cast("long"))
      .withColumn("batch_id", col("batch_id").cast("long"))
    // struct-keyed fingerprints → winnowOverlapPairs' shared-fp pair
    // rule (struct `<` is lexicographic = the keeper order)
    val fps = Dedup.winnowFingerprints(
      corpus.select(struct(col("doc_id"), col("epoch"), col("batch_id")).as("__k"),
        col("text")),
      "__k", "text", k, w)
    val pairs = Dedup.winnowOverlapPairs(fps, minShared, maxDf)
      .select(col("id_a"), col("id_b"))
    val losers = Dedup.nearDupComponents(pairs, "id_a", "id_b", maxIter)
      .filter(!col("is_keeper"))
      .select(col("doc_id.doc_id").as("doc_id"),
        col("doc_id.epoch").as("epoch"), col("doc_id.batch_id").as("batch_id"))
    removeAndReindex(spark, corpusPath, corpus, losers, Seq(fam),
      "index compaction", "compaction")
  }

  // ---------------------------------------------- semantic (SemDeDup) sink

  /** The semantic sink's probe index: `<corpus>/_graft_cells`, one row
    * per keeper (doc_id, emb, cell) laid out `cell=N/epoch/batch_id` —
    * the [[BandsDir]] bucketing discipline with IVF cells as the
    * buckets: SemDeDup only ever compares vectors sharing a cell
    * (qe10's equi-join rule), so a batch's probe prunes to the cell
    * DIRECTORIES its own docs land in.
    */
  private val CellsDir = "_graft_cells"

  private def centroidFingerprint(cm: Array[Array[Double]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(8)
    cm.foreach(_.foreach { d =>
      bb.clear(); bb.putLong(java.lang.Double.doubleToLongBits(d))
      md.update(bb.array())
    })
    md.digest().map("%02x".format(_)).mkString
  }

  private def cellIndexSchema(): StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("emb", ArrayType(DoubleType)),
    StructField("cell", IntegerType), StructField("epoch", LongType),
    StructField("batch_id", LongType)))

  /** Cell-index rows from corpus rows carrying (embedding, cell). */
  private def cellIndexRows(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id").cast("long").as("doc_id"),
      col("embedding").cast("array<double>").as("emb"),
      col("cell").cast("int").as("cell"),
      col("epoch").cast("long").as("epoch"),
      col("batch_id").cast("long").as("batch_id"))

  /** Stored same-cell vectors, minus the batch's own partition (replay
    * must not probe what it is about to rewrite). `cell`/`epoch`/
    * `batch_id` prune directories.
    */
  private[streaming] def probeCells(spark: SparkSession, corpusPath: String,
      epoch: Long, batchId: Long, cells: Seq[Int]): DataFrame =
    readSidecar(spark, new Path(new Path(corpusPath), CellsDir),
        cellIndexSchema())
      .filter(col("cell").isin(cells: _*) &&
        !(col("epoch") === lit(epoch) && col("batch_id") === lit(batchId)))
      .select(col("cell"), col("emb").as("__corpus_emb"))

  /** The cell family's drop stage (SemDeDup's same-cell rule, qe10):
    * assign each doc its nearest pinned centroid (persisted — the cell
    * collect, both candidate sides and the survivors' anti-join read
    * it; the collect bills "assign", because as its first action it
    * also materializes every upstream lazy stage), probe only the
    * batch's cells, and drop a doc whose pair score with a candidate
    * reaches `threshold`. ONE candidate side serves both drop arms:
    * stored vectors carry the sentinel id `Long.MinValue`, below every
    * real doc_id ([[checkedDocId]] reserves it), and batch vectors their
    * own id, so the single predicate `__cand_id < doc_id` expresses
    * both the vs-corpus and the smaller-batchmate rule — one cell
    * equi-join, one codegen'd fragment, no union of two joins and no
    * distinct before an anti-join that never needed one.
    */
  private def cellStage(cm: Array[Array[Double]], metric: String,
      threshold: Double): Stage =
    Stage(cellsSidecar(cm), "cell", "cells", { (b, in) =>
      val assigned = in
        .withColumn("cell",
          element_at(NativeExpressions.nearestCells(col("embedding"), cm, 1), 1))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      b.release(assigned.unpersist(false))
      val cellsHit = StageClock.time("assign")(
        distinctKeys(assigned.select("cell"), Encoders.scalaInt))
      val candidates = probeCells(b.spark, b.corpusPath, b.epoch, b.batchId, cellsHit)
        .select(col("cell"), lit(Long.MinValue).as("__cand_id"),
          col("__corpus_emb").as("__cand_emb"))
        .union(assigned.select(col("cell"), col("doc_id").as("__cand_id"),
          col("embedding").as("__cand_emb")))
      val dropped = assigned.select(col("doc_id"), col("cell"), col("embedding"))
        .join(candidates, "cell")
        .filter(col("__cand_id") < col("doc_id") &&
          Similarity.pairScore(metric, col("embedding"), col("__cand_emb"))
            >= threshold)
        .select(col("doc_id"))
      (assigned.join(dropped, Seq("doc_id"), "left_anti"),
        keepers => keepers.select(col("doc_id"), col("embedding").as("emb"), col("cell")))
    })

  /** Opt-in companion alert stream for [[startSemanticDedupCorpusSink]]:
    * run it over the SAME input frame and the SAME pinned centroids as
    * the sink (a second streaming query — its own checkpoint, its own
    * sink; foreachBatch sinks cannot host a stateful operator for
    * another query, so composition is by sharing the source). Emits one
    * [[CentroidDrift.DriftAlert]] per cell per threshold crossing —
    * edge-triggered, so every row is an incident ("this cell's observed
    * center of mass has moved `driftThreshold` off its pinned
    * centroid: re-fit and rebuild the `_graft_cells` sidecar"), not a
    * per-batch sample. Requires the RocksDB state store provider like
    * the sink itself.
    */
  def semanticDriftAlerts(docs: DataFrame, centroids: DataFrame,
      driftThreshold: Double): Dataset[CentroidDrift.DriftAlert] = {
    require(docs.columns.contains("embedding"),
      s"drift monitor input needs an embedding column; got ${docs.columns.mkString(", ")}")
    CentroidDrift.centroidDriftAlerts(
      docs.select(col("embedding")), "embedding", centroids, driftThreshold)
  }

  /** Start the SEMANTIC-dedup corpus sink — SemDeDup (Abbas et al.
    * 2023) as an incremental stream: a batch doc is dropped when some
    * SAME-CELL vector already in the corpus, or a smaller-id same-cell
    * doc of its own batch, has cosine ≥ `threshold` with it. Completes
    * the sink family: exact (state-backed hashes), lexical near-dup
    * (LSH bands), semantic (embedding cells).
    *
    * `centroids` is the qe08-shaped (cell_id, centroid) table — fit
    * offline ([[Similarity.Ivf.fit]]) and FIXED for the life of the
    * corpus; the index pins their exact bytes and refuses drift.
    *
    * `metric` chooses the pairwise similarity the `threshold` applies
    * to — `"cosine"` (SemDeDup's choice, qe10's batch contract) or
    * `"dot"` (inner-product-trained embeddings where magnitude carries
    * signal) — via [[Similarity.pairScore]], the same 6-dp-rounded
    * kernel the batch path thresholds on. Like `threshold` itself, the
    * metric is an ingest-policy knob, not index layout (cells depend
    * only on centroids): keep it fixed for a corpus's lifetime or
    * earlier batches will have been deduped under different semantics.
    *
    * Scale shape: cell assignment is the narrow kernel; the batch's
    * distinct cell ids are a metadata-sized driver collect (≤ nCells);
    * the probe reads ONLY those cell directories minus the batch's own
    * partition; candidate pairs are cell equi-joins (never all-pairs,
    * the qe10 rule). Replay: intact checkpoint → same (epoch,
    * batch_id) partition rewritten identically (probe excludes it);
    * lost checkpoint → fresh epoch, replayed docs cosine-match their
    * originals in the probe and write nothing. A crash between the
    * corpus and index writes re-fires the batch and rewrites both.
    */
  def startSemanticDedupCorpusSink(docs: DataFrame, corpusPath: String,
      checkpoint: String, centroids: DataFrame, threshold: Double = 0.9,
      minTokens: Int = 1,
      benchmark: Option[DataFrame] = None, benchTextCol: String = "text",
      benchGramN: Int = 8, metric: String = "cosine",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    requireDocSchema(docs)
    require(docs.columns.contains("embedding"),
      s"semantic sink input needs an embedding column; got ${docs.columns.mkString(", ")}")
    require(metric == "cosine" || metric == "dot",
      s"metric must be 'cosine' or 'dot', got '$metric'")
    // a cosine threshold outside (0, 1] silently drops everything or
    // nothing; dot products are magnitude-scaled, any finite bound goes
    if (metric == "cosine") require(threshold > 0.0 && threshold <= 1.0,
      s"cosine threshold must be in (0, 1], got $threshold")
    startProbingSink(docs.sparkSession, corpusPath, checkpoint,
      Seq(cellStage(Similarity.Ivf.centroidMatrix(centroids), metric, threshold)),
      None, benchmark, benchTextCol, benchGramN, trigger)(
      docs
        // null-embedding tolerance (the CentroidDrift monitor's
        // convention): an unprobeable doc is dropped by the gate —
        // otherwise its null cell NPEs the driver-side cell collect and
        // kills the query
        .filter(TextAnalysis.tokenCount(col("text")) >= minTokens &&
          col("embedding").isNotNull)
        .select(checkedDocId(col("doc_id").cast("long")).as("doc_id"),
          col("text"), col("embedding").cast("array<double>").as("embedding")))
  }

  // ---------------------------------------------- BM25 postings sidecar

  /** The retrieval sidecar: `<corpus>/_graft_postings`, one row per
    * (doc, term) with (dl, tf), laid out `bkt=<xxhash64(term) mod B>/
    * epoch=N/batch_id=M` — the bands/cells bucketing discipline with
    * TERM HASH BUCKETS, so a query's probe prunes to the directories
    * its own terms hash into (a term's postings all live in one
    * bucket). Per-batch corpus scalars (n_docs, sum_dl) live beside it
    * in `_graft_postings_stats/epoch/batch_id` — summed at query time,
    * they reproduce [[graft.functions.Retrieval.bm25CorpusStats]]'s
    * arithmetic exactly (integer totals, one double division).
    */
  private val PostingsDir = "_graft_postings"
  private val PostingsStatsDir = "_graft_postings_stats"

  /** Every sidecar family's directory, in audit and erasure order. */
  private val SidecarDirs = Seq(BandsDir, WinnowDir, CellsDir, PostingsDir)

  private def postingsSchema(): StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("dl", LongType),
    StructField("term", StringType), StructField("tf", LongType),
    StructField("bkt", IntegerType), StructField("epoch", LongType),
    StructField("batch_id", LongType)))

  private def postingsStatsSchema(): StructType = StructType(Seq(
    StructField("n_docs", LongType), StructField("sum_dl", LongType),
    StructField("epoch", LongType), StructField("batch_id", LongType)))

  private def bktOf(buckets: Int) =
    pmod(xxhash64(col("term")), lit(buckets.toLong)).cast("int")

  /** Postings rows for corpus rows that CARRY their (epoch, batch_id)
    * columns — the backfill/reconcile derivation ([[Retrieval.postingsOf]]
    * keyed by the partition columns so each batch's rows land in its
    * own partition).
    */
  private def postingsIndexRows(corpus: DataFrame, buckets: Int): DataFrame =
    graft.functions.Retrieval.postingsOf(
        corpus.select(col("doc_id"), col("text"),
          col("epoch").cast("long").as("epoch"),
          col("batch_id").cast("long").as("batch_id")),
        "doc_id", "text", extraKeys = Seq("epoch", "batch_id"))
      .withColumn("bkt", bktOf(buckets))
      .select("doc_id", "dl", "term", "tf", "bkt", "epoch", "batch_id")

  private def postingsStatsRows(corpus: DataFrame): DataFrame =
    corpus.select(col("epoch").cast("long").as("epoch"),
        col("batch_id").cast("long").as("batch_id"),
        graft.functions.Retrieval.docLen(col("text")).as("dl"))
      .groupBy(col("epoch"), col("batch_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).cast("long").as("sum_dl"))
      .select("n_docs", "sum_dl", "epoch", "batch_id")

  /** Delete the sidecar partition directories of `pairs` under `root`
    * (every matching bucket leaf when `bucketGlob` is set), cleaning
    * emptied parent directories so partition discovery never trips on
    * hollow `epoch=`/`bkt=` shells. Metadata-only FS work — bounded by
    * partition count, never row count.
    */
  private def sweepPairDirs(fs: FileSystem, root: Path,
      bucketGlob: Option[String], pairs: Set[(Long, Long)]): Unit = {
    // globStatus returns fully-QUALIFIED paths (file:/…) while `root`
    // may be scheme-less — qualify the stop boundary or the
    // `parent != root` guard never fires and an empty-dir walk could
    // climb past the sidecar root
    val qRoot = fs.makeQualified(root)
    pairs.foreach { case (e, b) =>
      val glob = bucketGlob.fold(s"epoch=$e/batch_id=$b")(g =>
        s"$g/epoch=$e/batch_id=$b")
      Option(fs.globStatus(new Path(root, glob))).toSeq.flatten.foreach { st =>
        fs.delete(st.getPath, true)
        var parent = st.getPath.getParent // epoch=e, then the bucket leaf
        while (parent != null && fs.makeQualified(parent) != qRoot &&
            fs.exists(parent) && fs.listStatus(parent).isEmpty) {
          fs.delete(parent, true)
          parent = parent.getParent
        }
      }
    }
  }

  /** Batch entry for the BM25 postings sidecar: ensure
    * `<corpus>/_graft_postings` (+ its stats table) exists, matches
    * `buckets`, and covers exactly the corpus's (epoch, batch_id)
    * partitions — built from stored text when absent (one corpus pass,
    * atomic tmp-then-rename), missing batches backfilled and orphan
    * batches swept otherwise. The same routine the exact sink runs at
    * every start when `maintainPostings=true`, public so an existing
    * corpus can be indexed — or re-reconciled after out-of-band
    * partition surgery — without starting a stream. Idempotent.
    */
  def buildPostingsIndex(spark: SparkSession, corpusPath: String,
      buckets: Int = 64): Unit = {
    require(buckets >= 1, s"postingsBuckets must be >= 1, got $buckets")
    ensure(spark, corpusPath, postingsSidecar(buckets))
  }

  /** BM25 top-k over an ingested corpus's postings sidecar: ZERO
    * corpus passes, zero tokenization — the probe reads only the term
    * buckets the query's own terms hash into (directory-pruned), and
    * the scalars come from the tiny per-batch stats table. Scoring is
    * [[graft.functions.Retrieval.bm25FromPostings]] — the same kernel
    * as the inline path, so results are score-identical to
    * `bm25Search` over the corpus text (StreamingSpec pins this).
    */
  def bm25OverCorpus(spark: SparkSession, corpusPath: String,
      queries: DataFrame, queryIdCol: String, termCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import graft.functions.Retrieval
    val (fs, corpusDir) = fsFor(spark, corpusPath)
    val idx = new Path(corpusDir, PostingsDir)
    val meta = readMeta(fs, idx).getOrElse(throw new IllegalArgumentException(
      s"no postings sidecar at $idx — ingest with maintainPostings=true " +
        "or build one with buildPostingsIndex"))
    val buckets = metaInt(meta, "buckets")
    val statsRow = spark.read.schema(postingsStatsSchema())
      .parquet(new Path(corpusDir, PostingsStatsDir).toString)
      .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("s"))
      .head()
    require(!statsRow.isNullAt(0) && statsRow.getLong(0) > 0L,
      s"postings stats at $corpusPath are empty — corpus has no ingested batches")
    val stats = Retrieval.Bm25Stats(statsRow.getLong(0),
      statsRow.getLong(1).toDouble / statsRow.getLong(0).toDouble)
    // the query's own term buckets: a metadata-sized driver collect
    // (≤ distinct query terms), pruning the scan to matching directories
    val bkts = queries.select(col(termCol).as("term")).distinct()
      .select(bktOf(buckets).as("b")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val postings = spark.read.schema(postingsSchema())
      .parquet(idx.toString)
      .filter(col("bkt").isin(bkts: _*))
    Retrieval.bm25FromPostings(postings, stats, queries, queryIdCol, termCol,
      k, k1, b)
  }

  /** Start the deduped-corpus sink. `docs` must carry `doc_id` and
    * `text`; rows under `minTokens` are dropped by the quality gate.
    *
    * Conf-flip caveat: the RocksDB provider conf (and the stage-id-free
    * class names every corpus sink runs with) must be set when THIS
    * query starts (the stream captures its own session-conf copy at
    * `start()`), so the session values are set before and restored
    * right after, under [[startConfLock]] — concurrent corpus-sink
    * starts serialize and never see each other's flip. A NON-graft
    * streaming query started concurrently inside that window from
    * another thread still captures the flipped values (Spark exposes no
    * public per-query conf or `cloneSession`); if that query carries an
    * HDFS-format state checkpoint, start it outside a corpus-sink start
    * window.
    */
  def startDedupedCorpusSink(docs: DataFrame, corpusPath: String,
      checkpoint: String, minTokens: Int = 1,
      benchmark: Option[DataFrame] = None, benchTextCol: String = "text",
      benchGramN: Int = 8, maintainPostings: Boolean = false,
      postingsBuckets: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = docs.sparkSession
    import spark.implicits._
    requireDocSchema(docs)
    require(postingsBuckets >= 1, s"postingsBuckets must be >= 1, got $postingsBuckets")
    locally {
      // a sidecar that stops being maintained is silently STALE for
      // every future bm25OverCorpus call — refuse the foot-gun
      val (cfs, cdir) = fsFor(spark, corpusPath)
      if (!maintainPostings)
        require(!cfs.exists(new Path(cdir, PostingsDir)),
          s"corpus at $corpusPath has a postings sidecar but this sink was " +
            "started with maintainPostings=false — pass maintainPostings=true " +
            "(same bucket count) or delete the sidecar")
    }
    val postings = postingsSidecar(postingsBuckets)
    // the contamination gate runs in foreachBatch (AFTER the state
    // probe): a contaminated doc claims its hash in state but never
    // lands in the corpus — any later doc with the same hash is a
    // duplicate of a contaminated doc (same normalized text, so the
    // same grams up to case/whitespace) and dropping it too is the
    // gate's intent, not a loss
    startCorpusSink(spark, corpusPath, checkpoint,
      if (maintainPostings) Seq(postings) else Nil, Some("exact-dedup sink"),
      benchmark, benchTextCol, benchGramN, trigger)(
      seenFirst(spark, corpusPath, docs
        .filter(TextAnalysis.tokenCount(col("text")) >= minTokens)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          TextAnalysis.fingerprint(col("text")).as("content_hash"))
        .as[CorpusDoc])) { (run, batch, batchId) =>
      val landed0 = run.landed(batch)
        .withColumn("epoch", lit(run.epoch))
        .withColumn("batch_id", lit(batchId))
      // three consumers when postings ride along (corpus write,
      // postings write, stats write) — persist or the gate and
      // fold joins re-run per write
      val landed =
        if (maintainPostings)
          landed0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else landed0
      writePartition(landed, corpusPath, None, Seq("doc_id"), run.epoch, batchId)
      if (maintainPostings) {
        // same (epoch, batch_id) partition discipline as the
        // corpus write: an intact-checkpoint replay rewrites the
        // partitions identically; a crash between the corpus and
        // sidecar writes re-fires the batch; the double-failure
        // window heals at next start via the postings reconcile
        postings.tables.foreach(t =>
          writeBatch(t, corpusPath, t.rows(landed), run.epoch, batchId))
        landed.unpersist(false)
      }
    }
  }

  // ---------------------------------------------- composed curation sink

  /** One production-ingest row for [[startCurationSink]]: the stream's
    * (doc_id, text, embedding) plus the exact-dedup fingerprint. The
    * embedding rides through the exact stage untouched.
    */
  case class CurationDoc(doc_id: Long, text: String,
      embedding: Seq[Double], content_hash: String) extends HashedDoc

  /** The streaming capstone — ONE production ingest entry composing all
    * four sink families IN SEQUENCE per micro-batch, each stage seeing
    * only the previous stage's survivors (so the per-batch corpus state
    * matches running the four stages separately, in this order):
    *
    *  1. QUALITY gate (narrow, pre-state): `minTokens` floor plus the
    *     `qualityGate` predicate ([[QualityDrift.keepNarrow]] by
    *     default — the shuffle-free Gopher subset). A rejected doc is
    *     junk, not a duplicate: it must NOT claim its hash in state,
    *     so the gate runs BEFORE the exact stage (contrast the
    *     contamination gate below, which runs after by design).
    *  2. EXACT dedup, the exact sink's stage ([[seenFirst]]:
    *     `transformWithState` seen-hash ValueState, fresh-start
    *     initial-state bootstrap from the stored `content_hash` column;
    *     [[startCorpusSink]]'s absorbed-set bookkeeping and foreign-epoch
    *     hash fold on resume). The benchmark contamination gate then
    *     runs in foreachBatch ([[SinkRun.landed]]) — after the state
    *     probe, so a contaminated doc claims its hash but never lands
    *     (the exact sink's documented intent).
    *  3. LEXICAL near-dup ([[bandStage]]: xxhash64 MinHash signatures,
    *     `pfx=`-bucket-pruned `_graft_bands` equi-join, within-batch
    *     smaller-id-wins).
    *  4. CONTAINMENT ([[winnowStage]]: shared-fingerprint rule with the
    *     `maxDf` boilerplate cap over the `pfx=`-bucket-pruned
    *     `_graft_winnow` index — catches the quote/subset arrivals
    *     resemblance-tuned banding misses).
    *  5. SEMANTIC dedup ([[cellStage]]: pinned `centroids`, cell-pruned
    *     `_graft_cells` equi-join, `metric`/`semThreshold` pair rule).
    *
    * Stages 3–5 are the standalone sinks' own stages, run by the same
    * batch body ([[probeBatch]]).
    *
    * Final keepers land in ONE corpus partition (epoch, batch_id) per
    * batch carrying text + content_hash + band columns + embedding +
    * cell — every column each sidecar's adoption/backfill and the exact
    * bootstrap need — and all THREE probe indexes are written in the
    * same batch with the family's dynamic-overwrite discipline.
    *
    * Drop semantics at stage boundaries: a doc dropped by stage N
    * appears in NO index (only landed docs are probe candidates — the
    * same rule as each standalone sink), but HAS claimed its content
    * hash in stage-2 state, so later exact replicas of any dropped doc
    * stay dropped regardless of which stage dropped it.
    *
    * Replay/exactly-once: the exact-sink discipline end to end —
    * pinned epoch, probes exclude the batch's own partition, corpus
    * then indexes written with dynamic overwrite; an intact-checkpoint
    * replay rewrites all four partitions identically; a crash between
    * writes re-fires the batch; the double-failure window heals at next
    * start via each index's ensure/reconcile routine.
    *
    * Scale shape per batch: state lookups O(batch), three probe reads
    * each pruned to the batch's own buckets/cells (bytes independent of
    * corpus growth elsewhere — StreamingSpec pins this for the composed
    * probes), candidate joins banded/bucketed, never all-pairs, ONE
    * corpus partition written. Monitors cannot ride in this query
    * (foreachBatch cannot host another query's stateful operator):
    * attach [[curationMonitors]] over the SAME input frame as
    * companion queries.
    */
  def startCurationSink(docs: DataFrame, corpusPath: String,
      checkpoint: String, centroids: DataFrame,
      minTokens: Int = 1, qualityGate: Column => Column = QualityDrift.keepNarrow(_),
      k: Int = 16, bands: Int = 4, shingleN: Int = 3, bandPrefixLen: Int = 1,
      winnowK: Int = 3, winnowW: Int = 4, minShared: Int = 2, maxDf: Int = 50,
      winnowPrefixLen: Int = 1,
      semThreshold: Double = 0.9, metric: String = "cosine",
      benchmark: Option[DataFrame] = None, benchTextCol: String = "text",
      benchGramN: Int = 8,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = docs.sparkSession
    import spark.implicits._
    requireDocSchema(docs)
    require(docs.columns.contains("embedding"),
      s"curation sink input needs an embedding column; got ${docs.columns.mkString(", ")}")
    require(bandPrefixLen >= 1 && bandPrefixLen <= 8,
      s"bandPrefixLen must be in [1,8], got $bandPrefixLen")
    require(winnowPrefixLen >= 1 && winnowPrefixLen <= 8,
      s"winnowPrefixLen must be in [1,8], got $winnowPrefixLen")
    require(minShared >= 1 && maxDf >= 2,
      s"need minShared >= 1, maxDf >= 2 (got $minShared, $maxDf)")
    require(metric == "cosine" || metric == "dot",
      s"metric must be 'cosine' or 'dot', got '$metric'")
    if (metric == "cosine") require(semThreshold > 0.0 && semThreshold <= 1.0,
      s"cosine semThreshold must be in (0, 1], got $semThreshold")
    val cm = Similarity.Ivf.centroidMatrix(centroids)
    startProbingSink(spark, corpusPath, checkpoint,
      curationStages(k, bands, shingleN, bandPrefixLen, winnowK, winnowW,
        minShared, maxDf, winnowPrefixLen, cm, semThreshold, metric),
      Some("curation sink"), benchmark, benchTextCol, benchGramN, trigger)(
      // null-embedding docs fall to the quality gate with the junk (the
      // CentroidDrift monitor's null tolerance): they cannot be
      // cell-probed — a null cell would NPE the driver-side cell
      // collect and kill the query — and like any gate-rejected doc
      // they claim no content hash
      seenFirst(spark, corpusPath, docs
        .filter(TextAnalysis.tokenCount(col("text")) >= minTokens &&
          qualityGate(col("text")) && col("embedding").isNotNull)
        .select(checkedDocId(col("doc_id").cast("long")).as("doc_id"), col("text"),
          col("embedding").cast("array<double>").as("embedding"),
          TextAnalysis.fingerprint(col("text")).as("content_hash"))
        .as[CurationDoc]))
  }

  /** The curation sink's probe stages 3–5, in order. */
  private def curationStages(k: Int, bands: Int, shingleN: Int,
      bandPrefixLen: Int, winnowK: Int, winnowW: Int, minShared: Int,
      maxDf: Int, winnowPrefixLen: Int, cm: Array[Array[Double]],
      semThreshold: Double, metric: String): Seq[Stage] =
    Seq(bandStage(k, bands, shingleN, bandPrefixLen),
      winnowStage(winnowK, winnowW, minShared, maxDf, winnowPrefixLen),
      cellStage(cm, metric, semThreshold))

  /** Wall-clock attribution for [[probeBatch]]'s stages, powering
    * the streaming-capstone bench entry (Bench's `streaming` section):
    * each stage's driver-blocking actions are timed and accumulated
    * here when enabled (zero overhead otherwise — one atomic read per
    * stage per batch). Attribution is per ACTION: a lazy stage tail
    * (e.g. the winnow anti-joins) bills to the next stage's
    * materializing action, so shares are a regression SIGNAL (a
    * probe-pruning regression inflates its own probe stage), not an
    * exact cost model. Not thread-safe across concurrent queries —
    * enable only in single-query bench harnesses.
    */
  private[graft] object StageClock {
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
    val enabled = new AtomicBoolean(false)
    private val nanos =
      new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
    def time[T](stage: String)(f: => T): T =
      if (!enabled.get()) f
      else {
        val t0 = System.nanoTime()
        try f finally nanos
          .computeIfAbsent(stage, _ => new AtomicLong())
          .addAndGet(System.nanoTime() - t0)
      }
    def reset(): Unit = nanos.clear()
    def secondsByStage: Map[String, Double] = {
      import scala.jdk.CollectionConverters._
      nanos.asScala.map { case (k, v) => k -> v.get() / 1e9 }.toMap
    }
  }

  /** The exact stage labels a curation batch ([[probeBatch]] over the
    * curation stages) bills to [[StageClock]] —
    * the single source of truth Bench's per-stage floors key against.
    * A label rename here without a floor re-key would make that floor
    * silently unfireable (`getOrElse(s, 0.0)` never exceeds 1.3×), so
    * BenchSpec asserts `curationStageFloorsSec.keySet == BilledStages`
    * and the bench artifact flags floored stages absent from
    * `stage_sec` (`stage_floor_orphans`).
    */
  // [[startCurationSink]] additionally bills an un-floored "start"
  // label (the per-restart reconcile/ensure/plan prefix — the sf1
  // floors showed the capstone regime is restart-sensitive, so the
  // share must be visible in stage_sec even though its absolute value
  // (~0.2 s) is filesystem-jitter-dominated and floor-unworthy)
  private[graft] val BilledStages: Set[String] =
    Set("gate", "band", "winnow", "assign", "cell", "write")

  /** One-shot planted-fault hook for crash-window tests: the curation
    * sink's four partition writes (corpus, bands, winnow, cells) are
    * NOT atomic, and the recovery story — an uncommitted batch re-fires
    * and its dynamic overwrites heal every partition — is otherwise
    * unprovable without killing a JVM mid-write. `arm` a point name
    * once; the next [[maybeTrip]] at that point throws (failing the
    * in-flight batch exactly there) and DISARMS, so the restarted
    * query's replay runs clean. No-op (one atomic read) when unarmed.
    *
    * Four plantable windows, one per write boundary (round-14 verdict
    * #4 — the sidecars are non-atomic among THEMSELVES, not just
    * against the corpus): `curation-after-corpus-write` (corpus yes,
    * sidecars no), `curation-after-band-write` (bands yes, winnow/cells
    * no), `curation-after-winnow-write` (cells missing alone), and
    * `curation-after-cells-write` (everything written, checkpoint
    * uncommitted — the re-fire must be byte-idempotent). They live in
    * the batch body every probing sink shares ([[probeBatch]]), so a
    * standalone near-dup, containment or semantic sink passes the
    * corpus window and its own stage's window too; each [[Stage]]
    * names its window (`band`, `winnow`, `cells`).
    *
    * The sidecar lifecycle's windows are derived from the family
    * table ([[Sidecar]]): each routine is written once, and a window's
    * name is the routine's stem plus the table's `name` (bands, winnow,
    * cells, postings, postings-stats), so every family gets the same
    * lattice:
    *  - `backfill-<name>-{marked,written}` — [[reconcile]]'s pending-
    *    marker windows, run at every query start;
    *  - `adopt-<name>-before-rename` — [[ensure]]'s staged-.tmp
    *    adoption build (dependents have no own adoption: they are
    *    reconciled after the rename), plus `adopt-bands-after-reband`
    *    from the band family's adoption hook ([[rebandStaleBatches]]);
    *  - `<stem>-after-{index-sweep,index-append,corpus-rewrite}` —
    *    [[removeAndReindex]]'s loser-removal windows, stem `compaction`
    *    for the compactions and `delete` for [[deleteDocs]] (which adds
    *    `delete-after-marker`; all heal by re-running the op, the
    *    erasure with the same tombstone ids);
    *  - `race-fold-{before,after}-rename` — [[RaceIngest.startParquetSink]]'s
    *    base fold: staged but not renamed, and renamed before the old-base
    *    sweep (both heal by the restart replaying the batch).
    */
  private[graft] object FaultInjection {
    private val tripAt =
      new java.util.concurrent.atomic.AtomicReference[String](null)
    def arm(point: String): Unit = tripAt.set(point)
    def maybeTrip(point: String): Unit = {
      // VALUE equality first: compareAndSet alone compares references,
      // which happened to work while every window name was an interned
      // literal on both sides — the interpolated backfill-<family>-*
      // names are distinct String instances and would never trip
      val armed = tripAt.get()
      if (armed != null && armed == point && tripAt.compareAndSet(armed, null))
        throw new RuntimeException(s"planted fault: $point")
    }
  }

  /** `doc_id == Long.MinValue` is reserved: the one-join probe tags
    * stored-corpus vectors with a sentinel candidate id of
    * `Long.MinValue`, and the single `__cand_id < doc_id` predicate
    * admits every stored vector only because the sentinel sorts
    * strictly below every REAL id. A batch doc carrying the sentinel
    * id would silently skip its vs-corpus comparisons (the pre-fold
    * two-join shape compared it), so the sink boundary rejects it
    * loudly instead — codegen'd `when`/`raise_error`, no row-level UDF.
    */
  private def checkedDocId(c: Column): Column =
    when(c === Long.MinValue, raise_error(lit(
      "doc_id == Long.MinValue is reserved (corpus-candidate sentinel id)")))
      .otherwise(c)

  /** One [[startCurationSink]] micro-batch outside a stream (its
    * foreachBatch body, for batch-mode probes): [[probeBatch]] over the
    * curation stages, with the stage-2 residue (`foreignHashes`, the
    * benchmark gate) as the sink would pass it.
    */
  private[graft] def curationBatch(batch0: DataFrame, batchId: Long,
      corpusPath: String, epoch: Long, foreignHashes: Option[DataFrame],
      benchGrams: Option[DataFrame], benchGramN: Int,
      k: Int, bands: Int, shingleN: Int, bandPrefixLen: Int,
      winnowK: Int, winnowW: Int, minShared: Int, maxDf: Int,
      winnowPrefixLen: Int, cm: Array[Array[Double]],
      semThreshold: Double, metric: String): Unit =
    probeBatch(batch0, batchId,
      SinkRun(corpusPath, epoch, foreignHashes, benchGrams, benchGramN),
      curationStages(k, bands, shingleN, bandPrefixLen, winnowK, winnowW,
        minShared, maxDf, winnowPrefixLen, cm, semThreshold, metric))

  /** The composed sink's monitor bundle — [[semanticDriftAlerts]]'s
    * share-the-source composition applied to all three monitor axes:
    * per-source quality keep-rates ([[QualityDrift]]), token-
    * distribution KL drift against a frozen reference histogram
    * ([[TokenDrift]]), and embedding centroid drift against the SAME
    * pinned centroids as the sink ([[CentroidDrift]]). Each returned
    * stream is a separate query (own checkpoint, own sink — a
    * foreachBatch sink cannot host another query's stateful operator);
    * start them over the SAME input frame as [[startCurationSink]].
    */
  def curationMonitors(docs: DataFrame, sourceCol: String,
      reference: Array[Long], centroids: DataFrame,
      klThreshold: Double = 0.5, qualityTol: Double = 0.2,
      driftThreshold: Double = 0.25): (Dataset[QualityDrift.QualityReport],
        Dataset[TokenDrift.DriftReport], Dataset[CentroidDrift.DriftAlert]) =
    (QualityDrift.qualityDriftStream(docs, sourceCol, "text", qualityTol),
      TokenDrift.tokenDriftStream(docs, sourceCol, "text", reference, klThreshold),
      semanticDriftAlerts(docs, centroids, driftThreshold))

  /** One-shot batch compaction for an EXACT-sink corpus: remove
    * whatever cross-epoch duplicates truly CONCURRENT writer
    * checkpoints admitted (sequential interleaving is already closed at
    * query start by [[foreignEpochHashes]]). Deterministic keeper per
    * `content_hash`: smallest `doc_id`, ties broken by smallest
    * (`epoch`, `batch_id`) — [[Dedup.exactDedup]]'s rule made total
    * across partitions, so any two runs over the same corpus remove the
    * same rows. Rewrites ONLY the (epoch, batch_id) partitions that
    * held a removed row — every other partition keeps its exact bytes —
    * and deletes partitions left with no keepers. Idempotent: a crash
    * between the rewrite and the empty-partition sweep just means the
    * next run finds (fewer) duplicates again. A corpus without a
    * `content_hash` column (near-dup/semantic sinks — which never had
    * the gap) fails loudly on column resolution. Returns removed-row
    * count.
    *
    * A postings sidecar ([[buildPostingsIndex]] / `maintainPostings`)
    * is compacted IN STEP: the affected pairs' `_graft_postings`
    * directories are deleted outright (a loser's terms can live in
    * bucket leaves the keepers' terms never reach, which a dynamic
    * overwrite could not touch), keeper postings re-derived, and the
    * stats table rewritten/swept — so `bm25OverCorpus` never scores a
    * removed doc and N tracks the compacted count. The sidecar is
    * updated BEFORE the corpus rewrite: while duplicates remain in the
    * corpus a re-run recomputes the identical keeper set, so every
    * crash window heals by running compaction again (don't serve
    * `bm25OverCorpus` mid-compaction). The near-dup/semantic sinks'
    * `_graft_bands`/`_graft_cells` indexes never meet this path — those
    * corpora carry no `content_hash` and are refused above; their own
    * concurrent-writer residual is closed by [[compactNearDupCorpus]] /
    * [[compactSemanticCorpus]].
    *
    * Scale shape: one groupBy over the single-column hash projection
    * finds duplicated hashes; the loser/keeper joins touch full rows
    * only for those hashes and the affected partitions; the driver
    * collects only (epoch, batch_id) pairs — bounded by partition
    * count, never row count, and REFUSED loudly above the
    * [[MaxCompactionPairsKey]] ceiling (a never-compacted corpus with
    * millions of micro-batch partitions should compact more often, not
    * grind one unbounded job — the guard's message steers there, with a
    * conf override for a deliberate catch-up run).
    */
  def compactCorpus(spark: SparkSession, corpusPath: String): Long = {
    val (fs, corpusDir) = fsFor(spark, corpusPath)
    if (!hasData(fs, corpusDir)) return 0L
    val corpus = spark.read.parquet(corpusPath)
      .select(col("doc_id"), col("text"), col("content_hash"),
        col("epoch").cast("long").as("epoch"),
        col("batch_id").cast("long").as("batch_id"))
    // hashes with >1 row, each with its winning (doc_id, epoch,
    // batch_id) — struct min is lexicographic over the fields, exactly
    // the keeper rule. Duplicates are the exception, so this side stays
    // small and broadcasts into the row-level joins below.
    val dupKeeper = corpus
      .groupBy("content_hash")
      .agg(min(struct(col("doc_id"), col("epoch"), col("batch_id"))).as("__keep"),
        count(lit(1)).as("__n"))
      .filter(col("__n") > 1L)
      .select(col("content_hash"), col("__keep"))
    val losers = corpus.join(dupKeeper, "content_hash")
      .filter(struct(col("doc_id"), col("epoch"), col("batch_id")) =!= col("__keep"))
      .select(col("content_hash"), col("doc_id"), col("epoch"), col("batch_id"))
    removeAndReindex(spark, corpusPath, corpus, losers,
      presentSidecars(fs, corpusDir, Seq(PostingsDir)), "compactCorpus",
      "compaction")
  }

  /** Canon-migration maintenance: recompute `content_hash` under the
    * CURRENT normalization canon ([[TextAnalysis.fingerprint]]) and
    * rewrite only the partitions where any stored hash differs, then
    * [[compactCorpus]] so texts that previously hashed apart collapse
    * to one keeper. Stored hashes are DATA — an engine upgrade that
    * changes the canon (round 11: whitespace collapse now runs before
    * trim) does not migrate them by itself, and without a rehash the
    * exact-dedup sink would admit a new duplicate of an old doc (new
    * hash ≠ stored hash) that compaction could never reconcile (it
    * groups by the stored hash). Round 12's NFC unification
    * ([[TextAnalysis.normalized]] now equals the qd48 canon; the old
    * form survives as [[TextAnalysis.legacyNormalized]]) is exactly
    * such an upgrade: ASCII corpora have no stale hash and rewrite
    * nothing, while corpora with decomposed-Unicode texts converge
    * here. Streaming SeenHash STATE is not
    * rewritten here: after rehashing, restart exact-dedup sinks on a
    * FRESH checkpoint — the fresh-start bootstrap re-reads the (now
    * current-canon) stored hash column. Returns
    * (partitionsRewritten, duplicatesRemovedByCompaction). Idempotent:
    * a second run finds no stale hash and rewrites nothing.
    *
    * Scale shape: the staleness probe is one narrow scan (recompute +
    * compare — no shuffle); the rewrite touches only stale partitions
    * via the flat pair predicate; compaction bounds follow
    * [[compactCorpus]].
    */
  def rehashCorpus(spark: SparkSession, corpusPath: String): (Long, Long) = {
    import spark.implicits._
    val (fs, corpusDir) = fsFor(spark, corpusPath)
    if (!hasData(fs, corpusDir)) return (0L, 0L)
    val corpus = spark.read.parquet(corpusPath)
      .select(col("doc_id"), col("text"), col("content_hash"),
        col("epoch").cast("long").as("epoch"),
        col("batch_id").cast("long").as("batch_id"))
    val stale = corpus
      .filter(TextAnalysis.fingerprint(col("text")) =!= col("content_hash"))
      .select(col("epoch"), col("batch_id")).distinct()
      .as[(Long, Long)].collect().toSet
    if (stale.isEmpty) return (0L, 0L)
    guardAffectedPairs(spark, stale.size, "rehashCorpus")
    val rehashed = corpus.filter(inPartitionPairs(stale))
      .withColumn("content_hash", TextAnalysis.fingerprint(col("text")))
      .localCheckpoint(true)
    clusterForWrite(rehashed, Seq("epoch", "batch_id"), Seq("doc_id"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch", "batch_id")
      .parquet(corpusPath)
    (stale.size.toLong, compactCorpus(spark, corpusPath))
  }

  /** Batch adoption entry for the near-dup sink's band index: the same
    * routine [[startNearDupCorpusSink]] runs at start (create-and-pin /
    * atomic adoption backfill from stored `band0..` columns / loud
    * parameter-mismatch refusal / missing-batch backfill + orphan
    * sweep), public so an existing corpus can be indexed or
    * re-reconciled without starting a stream. Idempotent.
    */
  def buildBandIndex(spark: SparkSession, corpusPath: String, k: Int = 16,
      bands: Int = 4, shingleN: Int = 3, prefixLen: Int = 1): Unit = {
    require(prefixLen >= 1 && prefixLen <= 8,
      s"prefixLen must be in [1,8], got $prefixLen")
    ensure(spark, corpusPath, bandsSidecar(k, bands, shingleN, prefixLen))
  }

  /** [[buildBandIndex]] for the semantic sink's cell index —
    * `centroids` must be the corpus's pinned (cell_id, centroid) table
    * (drift is refused via the byte fingerprint, as at sink start).
    */
  def buildCellIndex(spark: SparkSession, corpusPath: String,
      centroids: DataFrame): Unit =
    ensure(spark, corpusPath, cellsSidecar(Similarity.Ivf.centroidMatrix(centroids)))

  /** ANN top-k over an ingested corpus's cell sidecar — the dense twin
    * of [[bm25OverCorpus]]: ZERO corpus passes, zero re-embedding. The
    * probe reads ONLY the `cell=` directories the query vectors' own
    * `nProbe` nearest centroids select (directory-pruned, so probe cost
    * is bounded by probed-cell population, never corpus size), and
    * scoring is [[Similarity.Ivf.search]]'s kernel (6-dp-rounded score,
    * rank ties on neighbor id, self-excluded) — with `metric="cosine"`
    * results are identical to `Ivf.search` over the stored embeddings
    * (StreamingSpec pins this). `centroids` must be the corpus's pinned
    * (cell_id, centroid) table: drift is refused via the byte
    * fingerprint, the same rail as sink start — cells assigned under
    * other centroids would silently miss true neighbors.
    *
    * `excludeSelf` controls the `neighbor_id != query_id` filter:
    * `true` (default) is `Ivf.search`'s convention for queries drawn
    * from the corpus's own id space; pass `false` when query ids live
    * in an EXTERNAL id space (e.g. [[hybridOverCorpus]]'s fused query
    * ids), where an id collision with a corpus doc is meaningless and
    * must not drop a true neighbor.
    *
    * Reference analogue: the serving layer re-reads its whole table for
    * every dashboard refresh (streamlit-app.py:38–39); a maintained
    * sidecar is what replaces that rescan loop at scale.
    */
  def annOverCorpus(spark: SparkSession, corpusPath: String,
      queries: DataFrame, queryIdCol: String, vecCol: String,
      centroids: DataFrame, k: Int, nProbe: Int,
      metric: String = "cosine", excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val (fs, corpusDir) = fsFor(spark, corpusPath)
    val idx = new Path(corpusDir, CellsDir)
    val cm = Similarity.Ivf.centroidMatrix(centroids)
    val meta = readMeta(fs, idx).getOrElse(throw new IllegalArgumentException(
      s"no cell sidecar at $idx — ingest with startSemanticDedupCorpusSink " +
        "or build one with buildCellIndex"))
    val expected = cellsSidecar(cm).meta
    require(meta == expected,
      s"cell sidecar at $idx was built under different centroids/shape " +
        s"($meta vs $expected) — search with the corpus's pinned centroids")
    val probes = queries
      .select(col(queryIdCol).as("query_id"),
        Similarity.asDouble(col(vecCol)).as("__qv"))
      .withColumn("cell",
        explode(NativeExpressions.nearestCells(col("__qv"), cm, nProbe)))
    // the query batch's probed cells: a metadata-sized driver collect
    // (≤ nCells), pruning the sidecar scan to matching directories
    val cells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val stored = spark.read.schema(cellIndexSchema())
      .parquet(idx.toString)
      .filter(col("cell").isin(cells: _*))
      .select(col("cell"), col("doc_id").as("neighbor_id"), col("emb"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    val cands = stored.join(broadcast(probes), Seq("cell"))
    (if (excludeSelf) cands.filter(col("neighbor_id") =!= col("query_id"))
     else cands)
      .withColumn("score", Similarity.pairScore(metric, col("emb"), col("__qv")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Hybrid retrieval over one corpus carrying BOTH sidecars — the
    * sparse leg from the postings index ([[bm25OverCorpus]]), the dense
    * leg from the cell index ([[annOverCorpus]]), fused by reciprocal
    * rank ([[graft.functions.Retrieval.rrfFuse]], rank arithmetic only
    * so the legs' incomparable score scales never matter). `termQueries`
    * and `vecQueries` must share `queryIdCol`'s id space. ZERO corpus
    * passes end to end: each leg reads only its own sidecar's pruned
    * directories, and the fusion is a grouped sum over 2·kPerLeg·Q
    * rows. Build both sidecars on an existing corpus with
    * [[buildPostingsIndex]] + [[buildCellIndex]] (one pass each).
    */
  def hybridOverCorpus(spark: SparkSession, corpusPath: String,
      termQueries: DataFrame, termCol: String,
      vecQueries: DataFrame, vecCol: String, queryIdCol: String,
      centroids: DataFrame, k: Int, nProbe: Int, kPerLeg: Int = 10,
      k1: Double = 1.2, b: Double = 0.75, metric: String = "cosine",
      rrfK: Int = 60): DataFrame = {
    import graft.functions.Retrieval
    val sparse = bm25OverCorpus(spark, corpusPath, termQueries, queryIdCol,
        termCol, kPerLeg, k1, b)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val dense = annOverCorpus(spark, corpusPath, vecQueries, queryIdCol,
        vecCol, centroids, kPerLeg, nProbe, metric, excludeSelf = false)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(Seq(sparse, dense), k, rrfK)
  }

  /** The one loser-removal tail — [[compactCorpus]], the near-dup/
    * containment/semantic compactions and [[deleteDocs]]: rewrite the
    * affected corpus partitions without `losers`, keep every table of
    * `fams` (dependents included) in step, and delete partitions left
    * with no keepers. The sidecars are updated FIRST — each table's
    * affected pair directories deleted outright (a loser's rows can
    * live in bucket leaves the keepers never reach, which a dynamic
    * overwrite could not touch), then keeper rows re-derived and
    * appended — so while the corpus still holds the losers any crash
    * re-runs to the identical keeper set and every window heals by
    * running the op again. `losers` carries the (doc_id, epoch,
    * batch_id) key plus any column the keeper anti-join must also
    * match; `fams` is read once the op is known to touch something, and
    * `beforeMutation` runs just before the first write. `op` names the
    * op to the [[guardAffectedPairs]] ceiling; plantable windows are
    * `<faultStem>-after-{index-sweep,index-append,corpus-rewrite}`.
    * Returns removed-row count.
    */
  private def removeAndReindex(spark: SparkSession, corpusPath: String,
      corpus: DataFrame, loserKeys: DataFrame, fams: => Seq[Sidecar],
      op: String, faultStem: String,
      beforeMutation: () => Unit = () => ()): Long = {
    import spark.implicits._
    val (fs, corpusDir) = fsFor(spark, corpusPath)
    val losers = loserKeys
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val affected = losers.select(col("epoch"), col("batch_id"))
        .distinct().as[(Long, Long)].collect().toSet
      if (affected.isEmpty) return 0L
      guardAffectedPairs(spark, affected.size, op)
      beforeMutation()
      val removed = losers.count()
      // keepers of the affected partitions, materialized OFF the file
      // source (localCheckpoint) so the dynamic overwrite below does not
      // read the path it rewrites
      val keepersInAffected = corpus.filter(inPartitionPairs(affected))
        .join(losers, losers.columns.toSeq, "left_anti")
        .localCheckpoint(true)
      try {
        // dynamic overwrite only replaces partitions PRESENT in the
        // written data — a partition whose every row was a loser keeps
        // its old files and must be swept explicitly
        val stillThere = keepersInAffected.select(col("epoch"), col("batch_id"))
          .distinct().as[(Long, Long)].collect().toSet
        val tables = fams.flatMap(_.tables)
        tables.foreach(t => sweepPairDirs(fs, t.path(corpusDir), t.bucketGlob, affected))
        FaultInjection.maybeTrip(s"$faultStem-after-index-sweep")
        tables.foreach { t =>
          clusterForWrite(t.rows(keepersInAffected), t.partCols, Nil)
            .write.mode("append")
            .partitionBy(t.partCols: _*)
            .parquet(t.path(corpusDir).toString)
        }
        FaultInjection.maybeTrip(s"$faultStem-after-index-append")
        clusterForWrite(keepersInAffected, Seq("epoch", "batch_id"), Seq("doc_id"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("epoch", "batch_id")
          .parquet(corpusPath)
        // past this point the corpus no longer holds the losers: a
        // crash before the empty-partition sweep just means the next
        // run finds nothing to remove; partitions the dynamic overwrite
        // could not touch (no keepers left) are removed here
        FaultInjection.maybeTrip(s"$faultStem-after-corpus-rewrite")
        (affected -- stillThere).foreach { case (e, b) =>
          val batchDir = new Path(corpusDir, s"epoch=$e/batch_id=$b")
          fs.delete(batchDir, true)
          val epochDir = batchDir.getParent
          if (fs.exists(epochDir) && fs.listStatus(epochDir).isEmpty)
            fs.delete(epochDir, true)
        }
        removed
      } finally Dedup.freeLocalCheckpoint(keepersInAffected)
    } finally losers.unpersist(false)
  }

  /** [[compactCorpus]] for a NEAR-DUP-sink corpus: remove whatever
    * cross-epoch near-duplicates truly CONCURRENT writers admitted
    * (each sink's per-batch probe already covers everything already
    * IN the index when its batch fires — an epoch growing while
    * another query's batch is mid-flight is the one residual).
    *
    * Semantics — restore the sink family's invariant that NO two kept
    * docs share an LSH band: candidate pairs are (band, hash) bucket
    * equi-joins over the stored `band0..` columns (never all-pairs),
    * their transitive closure is clustered ([[Dedup.nearDupComponents]]
    * — O(diameter) label-propagation rounds, lineage-truncated), and
    * each cluster keeps its smallest (`doc_id`, `epoch`, `batch_id`) —
    * the same total keeper order as [[compactCorpus]], applied
    * cluster-wide (marginally stronger than sequential admission, which
    * can keep a doc whose only match was itself dropped; cluster-keep
    * is deterministic under any writer interleaving, which
    * order-of-admission is not). In a corpus maintained ONLY by
    * sequential sink starts no two kept docs share a band, so every
    * pair found here is a concurrency artifact. Idempotent: after one
    * pass no band-sharing pairs remain. The band index is kept in step
    * ([[removeAndReindex]]); `doc_id` must identify a row within
    * its partition (the sinks' layout). Returns removed-row count.
    */
  def compactNearDupCorpus(spark: SparkSession, corpusPath: String,
      maxIter: Int = 20): Long = {
    val (fs, corpusDir) = fsFor(spark, corpusPath)
    if (!hasData(fs, corpusDir)) return 0L
    val fam = pinned(fs, corpusDir, BandsDir).getOrElse(throw new IllegalArgumentException(
      s"no band index at ${new Path(corpusDir, BandsDir)} — compactNearDupCorpus is " +
        "for corpora written by startNearDupCorpusSink (see compactCorpus for the exact sink)"))
    val bands = metaInt(fam.meta, "bands")
    val corpus = spark.read.parquet(corpusPath)
      .withColumn("epoch", col("epoch").cast("long"))
      .withColumn("batch_id", col("batch_id").cast("long"))
    val eb = Dedup.bandsLong(
        corpus.select(Seq("doc_id", "epoch", "batch_id").map(col) ++
          (0 until bands).map(b => col(s"band$b")): _*),
        bands, Seq("doc_id", "epoch", "batch_id"))
      .select(struct(col("doc_id"), col("epoch"), col("batch_id")).as("k"),
        col("band"), col("bh"))
    // struct `<` is lexicographic over (doc_id, epoch, batch_id) — the
    // keeper order; distinct collapses multi-band matches of one pair
    val pairs = eb.select(col("k").as("id_a"), col("band"), col("bh"))
      .join(eb.select(col("k").as("id_b"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val losers = Dedup.nearDupComponents(pairs, "id_a", "id_b", maxIter)
      .filter(!col("is_keeper"))
      .select(col("doc_id.doc_id").as("doc_id"),
        col("doc_id.epoch").as("epoch"), col("doc_id.batch_id").as("batch_id"))
    removeAndReindex(spark, corpusPath, corpus, losers, Seq(fam),
      "index compaction", "compaction")
  }

  /** [[compactNearDupCorpus]] for a SEMANTIC-sink corpus: candidate
    * pairs are same-cell equi-joins over the stored (`embedding`,
    * `cell`) columns scored with [[Similarity.pairScore]] — the SAME
    * 6-dp-rounded kernel and NaN-never-matches hardening as the sink's
    * per-batch probe — clustered transitively, smallest (`doc_id`,
    * `epoch`, `batch_id`) kept per cluster. `threshold`/`metric` are
    * the sink's ingest-policy knobs (not stored in the index meta —
    * pass the values the corpus was ingested under). Restores the
    * invariant that no two kept docs in one cell score ≥ threshold;
    * pairs straddling a CELL boundary are out of scope here exactly as
    * they are for the sink and for batch SemDeDup (qe10). Keeps
    * `_graft_cells` in step; idempotent; returns removed-row count.
    */
  def compactSemanticCorpus(spark: SparkSession, corpusPath: String,
      threshold: Double = 0.9, metric: String = "cosine",
      maxIter: Int = 20): Long = {
    require(metric == "cosine" || metric == "dot",
      s"metric must be 'cosine' or 'dot', got '$metric'")
    if (metric == "cosine") require(threshold > 0.0 && threshold <= 1.0,
      s"cosine threshold must be in (0, 1], got $threshold")
    val (fs, corpusDir) = fsFor(spark, corpusPath)
    if (!hasData(fs, corpusDir)) return 0L
    val fam = pinned(fs, corpusDir, CellsDir).getOrElse(throw new IllegalArgumentException(
      s"no cell index at ${new Path(corpusDir, CellsDir)} — compactSemanticCorpus is " +
        "for corpora written by startSemanticDedupCorpusSink"))
    val corpus = spark.read.parquet(corpusPath)
      .withColumn("epoch", col("epoch").cast("long"))
      .withColumn("batch_id", col("batch_id").cast("long"))
    val v = corpus.select(
      struct(col("doc_id"), col("epoch"), col("batch_id")).as("k"),
      col("cell"), col("embedding").cast("array<double>").as("__e"))
    val pairs = v.select(col("k").as("id_a"), col("cell"), col("__e").as("__ea"))
      .join(v.select(col("k").as("id_b"), col("cell"), col("__e").as("__eb")),
        Seq("cell"))
      .filter(col("id_a") < col("id_b") &&
        Similarity.pairScore(metric, col("__ea"), col("__eb")) >= threshold)
      .select(col("id_a"), col("id_b")).distinct()
    val losers = Dedup.nearDupComponents(pairs, "id_a", "id_b", maxIter)
      .filter(!col("is_keeper"))
      .select(col("doc_id.doc_id").as("doc_id"),
        col("doc_id.epoch").as("epoch"), col("doc_id.batch_id").as("batch_id"))
    removeAndReindex(spark, corpusPath, corpus, losers, Seq(fam),
      "index compaction", "compaction")
  }

  // -------------------------------------------- targeted maintenance ops

  // ------------------------------------------------ erasure bookkeeping

  /** In-flight-erasure marker: `<corpus>/_erasure_pending`, a parquet
    * directory holding the doomed `doc_id`s (`_`-prefixed, so corpus
    * readers and [[hasData]] never see it). Written BEFORE the first
    * sidecar sweep, deleted after the final partition cleanup — so a
    * crash ANYWHERE inside [[deleteDocs]] leaves the ids durable on
    * disk and the next sink start (every `start*` sink calls
    * [[resumePendingErasure]] before its reconcile) finishes the
    * erasure before any backfill could re-derive sidecar rows from
    * corpus partitions that still hold the doomed docs (round-16
    * ADVICE: healing previously depended entirely on the operator's
    * external tombstone list — compliance-critical). Staged write
    * (`.tmp` + `_SUCCESS` gate + rename), so a torn marker is never
    * read as a shorter id list: (1) stage the combined set — a crash
    * leaves the old final intact and the uncommitted stage ignored;
    * (2) drop the old final — the committed stage is readable;
    * (3) rename — either copy is readable at every instant.
    */
  private[streaming] val PendingErasureDir = "_erasure_pending"

  private def readPendingErasure(spark: SparkSession, fs: FileSystem,
      corpusDir: Path): Option[DataFrame] = {
    import spark.implicits._
    val fin = new Path(corpusDir, PendingErasureDir)
    val tmp = new Path(corpusDir, PendingErasureDir + ".tmp")
    val parts = Seq(fin).filter(hasData(fs, _)) ++
      Seq(tmp).filter(t => fs.exists(new Path(t, "_SUCCESS")) && hasData(fs, t))
    if (parts.isEmpty) None
    else {
      // materialize on the driver: the returned frame's consumers
      // (deleteDocs' loser join, the marker REWRITE itself) outlive the
      // marker files this plan reads, and a lazy recompute mid-rewrite
      // could see a half-written stage. Erasure lists are
      // compliance-bounded (ids, not docs), so driver residence is the
      // same order as the affected-pair collect the op already does.
      val vals = parts.map(p => spark.read.parquet(p.toString)
          .select(col("doc_id").cast("long").as("doc_id")))
        .reduce(_ unionByName _).distinct().as[Long].collect()
      Some(vals.toSeq.toDF("doc_id"))
    }
  }

  private def writePendingErasure(fs: FileSystem, corpusDir: Path,
      ids: DataFrame): Unit = {
    val fin = new Path(corpusDir, PendingErasureDir)
    val tmp = new Path(corpusDir, PendingErasureDir + ".tmp")
    fs.delete(tmp, true)
    // one file: erasure lists are compliance-scale (bounded), and the
    // marker is read whole at heal time — no reason to spray parts
    ids.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    fs.delete(fin, true)
    if (!fs.rename(tmp, fin))
      throw new IllegalStateException(s"could not commit erasure marker at $fin")
  }

  private def clearPendingErasure(fs: FileSystem, corpusDir: Path): Unit = {
    fs.delete(new Path(corpusDir, PendingErasureDir), true)
    fs.delete(new Path(corpusDir, PendingErasureDir + ".tmp"), true)
  }

  /** Corpus-level erasure epoch: `<corpus>/_graft_erasure_epoch`, a
    * counter [[deleteDocs]] bumps after each COMMITTED erasure (and
    * after settling an interrupted one). The exact-dedup sinks — the
    * two with a RocksDB seen-hash state this op cannot rewrite — pin
    * the counter in their checkpoint at fresh start and REFUSE to
    * resume past an unseen bump ([[checkErasureRail]]): a live exact
    * checkpoint's seen-set still holds the erased `content_hash`, so
    * without the rail it keeps silently dropping re-submissions of the
    * erased text until an operator remembers the fresh-restart
    * discipline (round-16 verdict #3 — previously manual). Missing
    * file == 0 on both sides (pre-rail corpora and checkpoints resume
    * exactly as before until the first erasure).
    */
  private val ErasureEpochFile = "_graft_erasure_epoch"
  private val CpErasureEpochFile = "graft-erasure-epoch"

  // garbled (crash mid-write of a non-staged legacy file) == 0:
  // conservative for the checkpoint side (refuses), harmless for the
  // corpus side (the staged write below never tears)
  private def readCounter(fs: FileSystem, f: Path): Long =
    readText(fs, f).flatMap(_.toLongOption).getOrElse(0L)

  private def writeCounter(fs: FileSystem, f: Path, v: Long): Unit = {
    val tmp = new Path(f.getParent, f.getName + ".tmp")
    writeText(fs, tmp, v.toString)
    fs.delete(f, false)
    if (!fs.rename(tmp, f))
      throw new IllegalStateException(s"could not commit counter at $f")
  }

  private def erasureEpochOf(fs: FileSystem, corpusDir: Path): Long =
    readCounter(fs, new Path(corpusDir, ErasureEpochFile))

  private def bumpErasureEpoch(fs: FileSystem, corpusDir: Path): Unit = {
    val f = new Path(corpusDir, ErasureEpochFile)
    writeCounter(fs, f, readCounter(fs, f) + 1L)
  }

  /** The exact-sink side of the erasure rail: pin the corpus's erasure
    * epoch on a FRESH start (whose initial-state bootstrap reads the
    * post-erasure hash column, so it owes nothing to older erasures);
    * REFUSE a resume whose pinned epoch is behind the corpus's —
    * refuse, not auto-heal, because this query cannot rewrite its own
    * RocksDB seen-state either, and a loud stop with the exact fix
    * beats silently dropping erased-then-resubmitted text forever.
    */
  private def checkErasureRail(spark: SparkSession, corpusPath: String,
      cpFs: FileSystem, cp: Path, fresh: Boolean, what: String): Unit = {
    val (fs, corpusDir) = fsFor(spark, corpusPath)
    val corpusCtr = erasureEpochOf(fs, corpusDir)
    val marker = new Path(cp, CpErasureEpochFile)
    if (fresh) {
      cpFs.mkdirs(cp)
      writeCounter(cpFs, marker, corpusCtr)
    } else require(corpusCtr <= readCounter(cpFs, marker),
      s"$what: corpus at $corpusPath has erasure epoch $corpusCtr but this " +
        s"checkpoint pinned ${readCounter(cpFs, marker)} — deleteDocs ran " +
        "while this checkpoint was live, and its streaming exact-dedup " +
        "seen-state still holds the erased content hashes (a re-submission " +
        "of erased text would be silently dropped forever). Restart on a " +
        "FRESH checkpoint: the fresh-start bootstrap re-reads the stored " +
        "hash column, where the erased docs no longer exist.")
  }

  /** Finish any erasure a crash left in flight — every `start*` sink
    * calls this BEFORE its reconcile/ensure step (a reconcile backfill
    * re-derives sidecar rows from corpus partitions, which still hold
    * the doomed docs inside the crash window — it would resurrect them
    * into the sidecars), and it is one `exists` probe when no marker
    * is present. Batch read paths (bm25/ann/hybridOverCorpus) do NOT
    * resume — a read cannot own a compliance mutation; until the next
    * sink start or [[deleteDocs]] re-run they see the documented
    * mid-erasure state (sidecars possibly missing rows the corpus
    * still holds — conservative for dedup probes, which only lose
    * drop candidates, never keepers).
    */
  def resumePendingErasure(spark: SparkSession, corpusPath: String): Long = {
    val (fs, corpusDir) = fsFor(spark, corpusPath)
    readPendingErasure(spark, fs, corpusDir) match {
      case Some(ids) => deleteDocs(spark, corpusPath, ids)
      case None => 0L
    }
  }

  /** Targeted document removal — the compliance/takedown maintenance op
    * (erasure requests, licensing takedowns, opt-outs) a training-data
    * corpus needs as much as dedup: delete every stored row whose
    * `doc_id` is in `docIds` from the corpus AND from every probe
    * sidecar present (bands / winnow / cells / postings+stats —
    * auto-detected, parameters from each sidecar's pinned meta), leaving
    * each index consistent with exactly the surviving rows. Ids not in
    * the corpus are no-ops; an id stored in several partitions
    * (concurrent-epoch duplicates) loses every copy — erasure, not
    * dedup.
    *
    * Consequence worth stating: a future near-duplicate of a deleted
    * doc will now LAND (its bands/fps/cell rows are gone) — that is the
    * point of erasure, and the tested behavior.
    *
    * Crash posture (the compaction discipline, re-keyed to caller
    * input): the doomed ids go durable in the [[PendingErasureDir]]
    * marker first, then all sidecar sweeps+appends run while the
    * corpus still holds the doomed rows, the corpus dynamic overwrite
    * follows, fully emptied partitions are removed last, and the
    * marker clears after the erasure epoch bumps. Any window heals
    * AUTOMATICALLY at the next sink start ([[resumePendingErasure]])
    * or by re-running with the same ids (idempotent — the marker IS a
    * durable tombstone list, unioned into any later call's ids);
    * plantable windows `delete-after-marker` /
    * `delete-after-index-sweep` / `delete-after-index-append` /
    * `delete-after-corpus-rewrite`.
    *
    * Scale shape: one id semi-join locates the affected (epoch,
    * batch_id) partitions (flat predicate, ceiling-guarded); rewrites
    * touch only those partitions; each sidecar rebuild derives from the
    * partition-pruned keeper rows. Returns removed-row count.
    *
    * EXACT-sink streaming state is NOT rewritten here (this op cannot
    * reach another query's RocksDB store): a LIVE checkpoint's seen-set
    * still holds the erased doc's `content_hash`, so a re-submission of
    * the same text is still dropped there. That residue is now
    * MECHANICAL, not a manual discipline: a committed erasure bumps
    * the corpus's [[ErasureEpochFile]], and the exact-dedup sinks
    * REFUSE to resume a checkpoint pinned behind it
    * ([[checkErasureRail]]) — the operator restarts on a fresh
    * checkpoint, whose bootstrap re-reads the stored hash column,
    * where the erased doc no longer exists, and the text is
    * re-admittable. The probe-sidecar sinks (band/winnow/cell,
    * including the curation capstone's stages 3–5) have no such
    * residue: their probes read the sidecars this op rewrites.
    */
  def deleteDocs(spark: SparkSession, corpusPath: String,
      docIds: DataFrame): Long = {
    require(docIds.columns.contains("doc_id"),
      s"deleteDocs needs a doc_id column; got ${docIds.columns.mkString(", ")}")
    val (fs, corpusDir) = fsFor(spark, corpusPath)
    // a marker can outlive its work (crash after the last partition
    // delete, before the clear): settle it — an interrupted erasure DID
    // mutate state after the guard passed, so the epoch must still
    // bump (a live exact checkpoint may hold its hashes) even when the
    // re-run finds nothing left to do
    val pending = readPendingErasure(spark, fs, corpusDir)
    val removed =
      if (!hasData(fs, corpusDir)) 0L
      else {
        val corpus = spark.read.parquet(corpusPath)
          .withColumn("epoch", col("epoch").cast("long"))
          .withColumn("batch_id", col("batch_id").cast("long"))
        val ids = pending.foldLeft(
            docIds.select(col("doc_id").cast("long").as("doc_id")))(
            _ unionByName _)
          .distinct()
        removeAndReindex(spark, corpusPath, corpus,
          corpus.select(col("doc_id"), col("epoch"), col("batch_id")).join(ids, "doc_id"),
          presentSidecars(fs, corpusDir), "deleteDocs", "delete",
          // the ids go durable BEFORE the first mutation: from here on, a
          // crash anywhere is healed by the next sink start's
          // resumePendingErasure, not by operator memory
          () => {
            writePendingErasure(fs, corpusDir, ids)
            FaultInjection.maybeTrip("delete-after-marker")
          })
      }
    // bump BEFORE clearing the marker: a crash between the two leaves a
    // settled-but-marked state whose re-run removes nothing and settles
    // again (one redundant bump — refusals stay correct, never missed)
    if (removed > 0L || pending.nonEmpty) {
      bumpErasureEpoch(fs, corpusDir)
      clearPendingErasure(fs, corpusDir)
    }
    removed
  }

  /** Predicate form of [[deleteDocs]] — compliance requests usually
    * arrive as a PREDICATE ("every doc from source X", "texts
    * containing this license string", "this exact text") rather than a
    * doc_id list: evaluate `predicate` over the stored corpus once
    * (one pruned scan — only `doc_id` plus the predicate's columns are
    * read), then route the matching ids through [[deleteDocs]], which
    * owns the marker/epoch/crash discipline. Returns removed-row
    * count. The id set is captured AT CALL TIME: docs landing after
    * this scan are not covered (re-run for a standing policy — or
    * gate them at ingest, where the quality/contamination gates
    * already live).
    */
  def deleteDocsWhere(spark: SparkSession, corpusPath: String,
      predicate: Column): Long = {
    val (fs, corpusDir) = fsFor(spark, corpusPath)
    if (!hasData(fs, corpusDir)) return 0L
    deleteDocs(spark, corpusPath,
      spark.read.parquet(corpusPath).filter(predicate).select(col("doc_id")))
  }

  /** Centroid refresh — the maintenance op the [[CentroidDrift]]
    * monitor's alert points at ("this cell's center of mass has moved:
    * re-fit and rebuild the `_graft_cells` sidecar"), previously a
    * manual procedure: re-assign every stored doc's `cell` under
    * `newCentroids`, rewrite only the partitions where any assignment
    * changed (the [[rehashCorpus]] stale-partition discipline), then
    * rebuild the cell sidecar atomically under the NEW pinned centroid
    * bytes. After it returns, sinks/probes started with `newCentroids`
    * match the corpus; anything still holding the old centroids is
    * REFUSED by the meta pin — the drift rail working as designed.
    *
    * Crash posture: the old sidecar is deleted FIRST (its pin is the
    * one thing that could silently mislead a probe), so any crash
    * leaves either a missing sidecar (rebuilt from stored cells at the
    * next sink start or [[buildCellIndex]]) or a partially re-assigned
    * corpus whose sidecar derives from its OWN stored cells — self-
    * consistent but mixed-assignment until this op is RE-RUN with the
    * same centroids (idempotent: converged partitions rewrite nothing).
    *
    * Scale shape: the staleness probe is one narrow scan (argmin
    * against a broadcast centroid matrix + compare — no shuffle); the
    * rewrite touches only changed partitions via the flat pair
    * predicate; the rebuild is the adoption path's one atomic pass.
    * Returns the number of rows whose cell assignment changed.
    */
  def refitCellIndex(spark: SparkSession, corpusPath: String,
      newCentroids: DataFrame): Long = {
    import spark.implicits._
    val (fs, corpusDir) = fsFor(spark, corpusPath)
    if (!hasData(fs, corpusDir)) return 0L
    val cm = Similarity.Ivf.centroidMatrix(newCentroids)
    val corpus = spark.read.parquet(corpusPath)
      .withColumn("epoch", col("epoch").cast("long"))
      .withColumn("batch_id", col("batch_id").cast("long"))
    require(corpus.columns.contains("cell") && corpus.columns.contains("embedding"),
      s"corpus at $corpusPath has no (embedding, cell) columns — " +
        "refitCellIndex is for semantic/curation-sink corpora")
    val reassigned = corpus.withColumn("__new_cell",
      element_at(NativeExpressions.nearestCells(
        col("embedding").cast("array<double>"), cm, 1), 1))
    val stale = reassigned.filter(!(col("cell") <=> col("__new_cell")))
    val staleCount = stale.count()
    val stalePairs = stale.select(col("epoch"), col("batch_id"))
      .distinct().as[(Long, Long)].collect().toSet
    // ceiling check BEFORE the first mutation (round-16 ADVICE): the
    // guard throws deterministically on every re-run, so if it fired
    // after the pin delete the refusal window would leave the corpus
    // on OLD assignments with NO pin — and a sink started with the new
    // centroids would adopt an index rebuilt from those old stored
    // cells while pinning the new centroid bytes, exactly the silent
    // probe-inconsistency the pin rail exists to prevent. A refusal
    // must mutate nothing.
    if (stalePairs.nonEmpty)
      guardAffectedPairs(spark, stalePairs.size, "refitCellIndex")
    // drop the OLD pin before any rewrite: a stale pin is the only
    // state that can make a probe silently wrong; a missing sidecar
    // just rebuilds
    fs.delete(new Path(corpusDir, CellsDir), true)
    // plantable: old pin gone, corpus still on old assignments — a
    // re-run re-detects every stale row and converges
    FaultInjection.maybeTrip("refit-after-pin-delete")
    if (stalePairs.nonEmpty) {
      val healed = stale
        .withColumn("cell", col("__new_cell").cast("int")).drop("__new_cell")
        .union(reassigned.filter(col("cell") <=> col("__new_cell"))
          .drop("__new_cell")
          .filter(inPartitionPairs(stalePairs)))
        .localCheckpoint(true)
      try clusterForWrite(healed, Seq("epoch", "batch_id"), Seq("doc_id"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch", "batch_id")
        .parquet(corpusPath)
      finally Dedup.freeLocalCheckpoint(healed)
    }
    // plantable: corpus re-assigned, sidecar not yet rebuilt — a re-run
    // finds zero stale rows and the adoption build restores the index
    FaultInjection.maybeTrip("refit-after-corpus-rewrite")
    ensure(spark, corpusPath, cellsSidecar(cm))
    staleCount
  }

  /** Read-only corpus consistency audit — the DETECT side of the
    * maintenance story whose RESPONSE ops already exist (start-time
    * reconcile/backfill, [[deleteDocs]], [[refitCellIndex]],
    * [[compactCorpus]] and kin): one row per component with
    * `status` ∈ {ok, attention} and a human-readable `detail` naming
    * the heal path. An operator runs it after an incident (or on a
    * schedule) instead of hand-diffing partition trees.
    *
    * Checks, all O(directories) driver-side metadata — NO data scans,
    * so it is safe against a 100 TB corpus:
    *  - corpus layout (two-level epoch/batch_id partitioning present);
    *  - pending-erasure marker (an interrupted [[deleteDocs]] — heals
    *    at the next sink start) and the erasure epoch;
    *  - per sidecar present (bands/winnow/cells/postings): meta pin
    *    readable, pending-backfill marker, corpus partitions the
    *    sidecar is missing (existence diff — the start-time backfill's
    *    input), orphan sidecar partitions for batches the corpus no
    *    longer has (the orphan sweep's input);
    *  - the postings stats twin tracks the postings sidecar.
    *
    * "attention" is informational, not fatal: every flagged state is
    * one the engine heals mechanically (the detail says where); the
    * audit exists so an operator can VERIFY that healing happened
    * after an incident instead of trusting it.
    */
  def auditCorpus(spark: SparkSession, corpusPath: String): DataFrame = {
    import spark.implicits._
    val (fs, corpusDir) = fsFor(spark, corpusPath)
    val out = Seq.newBuilder[(String, String, String)]
    if (!fs.exists(corpusDir)) {
      out += (("corpus", "attention", s"no directory at $corpusPath"))
      return out.result().toDF("component", "status", "detail")
    }
    val corpusPairs = epochBatchDirs(fs, corpusDir, "epoch=*/batch_id=*")
    if (hasData(fs, corpusDir) && corpusPairs.isEmpty)
      out += (("corpus", "attention",
        "data present but no epoch=*/batch_id=* partitions — legacy " +
          "single-level layout; migrate before pointing an epoch-aware sink here"))
    else
      out += (("corpus", "ok",
        s"${corpusPairs.size} (epoch, batch_id) partitions"))
    readPendingErasure(spark, fs, corpusDir) match {
      case Some(ids) => out += (("erasure", "attention",
        s"pending-erasure marker holds ${ids.count()} ids — an interrupted " +
          "deleteDocs; finishes at the next sink start or deleteDocs re-run"))
      case None => out += (("erasure", "ok",
        s"no pending marker; erasure epoch ${erasureEpochOf(fs, corpusDir)}"))
    }
    for (dir <- SidecarDirs) {
      val idx = new Path(corpusDir, dir)
      val meta = readMeta(fs, idx)
      val fam = fromMeta(dir, meta.getOrElse(""))
      if (!fs.exists(idx)) out += ((fam.name, "ok", "sidecar absent"))
      else {
        val pending = readPendingBackfill(fs, idx)
        val idxPairs = epochBatchDirs(fs, idx, fam.leafGlob)
        val missing = corpusPairs -- idxPairs
        val orphans = idxPairs -- corpusPairs
        val issues = Seq(
          if (meta.isEmpty) Some("meta pin missing/unreadable — delete the " +
            "sidecar to trigger a rebuild") else None,
          if (pending.nonEmpty) Some(s"pending-backfill marker " +
            s"(${pending.size} pairs) — an interrupted reconcile; redone at " +
            "the next sink start") else None,
          if (missing.nonEmpty) Some(s"${missing.size} corpus partitions " +
            "unindexed — backfilled at the next sink start") else None,
          if (orphans.nonEmpty) Some(s"${orphans.size} orphan index " +
            "partitions for batches the corpus no longer has — swept at the " +
            "next sink start") else None).flatten
        if (issues.isEmpty) out += ((fam.name, "ok",
          s"meta '${meta.getOrElse("")}'; ${idxPairs.size} pairs in step"))
        else out += ((fam.name, "attention", issues.mkString("; ")))
      }
      for (dep <- fam.dependent) {
        val depDir = dep.path(corpusDir)
        if (fs.exists(idx) || fs.exists(depDir)) {
          val depPairs = epochBatchDirs(fs, depDir, dep.leafGlob)
          val missingD = corpusPairs -- depPairs
          if (!fs.exists(idx))
            out += ((dep.name, "attention",
              s"${dep.label} present without a ${fam.label} — stale leftover; " +
                s"delete it or rebuild ${fam.name}"))
          else if (!fs.exists(depDir) || missingD.nonEmpty)
            out += ((dep.name, "attention",
              s"${missingD.size} corpus partitions missing ${dep.label} rows — " +
                s"rebuilt at the next ${fam.name} reconcile (a sink start or build)"))
          else out += ((dep.name, "ok", s"${depPairs.size} pairs in step"))
        }
      }
    }
    out.result().toDF("component", "status", "detail")
  }
}
