package graft

import org.apache.spark.sql.DataFrame

import graft.serve.SqlReplay

/** DataFrame API ≡ SQL API, query for query: every SqlReplay entry must
  * return exactly the rows (same column names, same values, same order)
  * as its `SparkEntry.queries` twin — the end-to-end proof of the SQL
  * serving surface, including the GraftExtensions kernel registrations
  * (qd07's minhash_sig_md5, qd08's simhash64 run THROUGH spark.sql
  * here, not through the typed Column API).
  */
class ServeSqlSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString)

  test("SQL-only replay: q01–q20 + kernel + curation/retrieval queries match the DataFrame API row for row") {
    GraftExtensions.register(spark)
    graft.sources.Tables.createTempViews(spark, sf0001)
    val names = SqlReplay.sql.keys.toSeq.sorted
    assert(names.size === 30,
      s"expected 20 reference + 2 kernel + 8 curation/retrieval queries, got $names")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf0001)
      val viaSql = SqlReplay.runText(spark, SqlReplay.sql(name))
      assert(viaSql.columns.toSeq === df.columns.toSeq,
        s"$name: SQL column names diverge from the DataFrame API")
      assert(rows(viaSql) === rows(df), s"$name: SQL result diverges")
    }
  }

  test("stage seams are namespaced: a replay never drops a user's same-named default-schema table") {
    // Round-13 ADVICE: the scripts' DROP+CTAS seams used unqualified
    // fixed names, so SqlReplay.run on qd61/qd63/qd65 destructively
    // dropped any same-named permanent table in the caller's catalog.
    // Now they live under the reserved graft_replay schema.
    GraftExtensions.register(spark)
    graft.sources.Tables.createTempViews(spark, sf0001)
    spark.sql("DROP TABLE IF EXISTS g63_sh")
    spark.sql("CREATE TABLE g63_sh USING PARQUET AS SELECT 42 AS user_col")
    try {
      SqlReplay.runText(spark, SqlReplay.sql("qd63_quality_keepers")).collect()
      // the user's table is intact, content and all
      assert(spark.table("g63_sh").collect().map(_.getInt(0)).toSeq === Seq(42),
        "replay clobbered the user's default-schema g63_sh")
      // the seams landed in the reserved schema instead
      val seams = spark.sql(s"SHOW TABLES IN ${SqlReplay.ReplaySchema}")
        .select("tableName").collect().map(_.getString(0)).toSet
      assert(seams.contains("g63_sh"),
        s"stage seam missing from the reserved schema; got $seams")
      // cleanup() removes the whole reserved namespace; user table stays
      SqlReplay.cleanup(spark)
      assert(!spark.sql("SHOW DATABASES").collect()
        .map(_.getString(0)).contains(SqlReplay.ReplaySchema),
        "cleanup left the reserved schema behind")
      assert(spark.table("g63_sh").count() === 1)
    } finally spark.sql("DROP TABLE IF EXISTS g63_sh")
  }

  // ---- curation-batch probe stages in SQL (round-14 stretch) ----------

  /** Quality-passing synthetic text (the StreamingSpec capstone shape):
    * 50 tokens, every 5th a stopword — passes keepNarrow.
    */
  private def curText(stem: String): String =
    (0 until 50).map(i => if (i % 5 == 4) "the" else s"$stem$i").mkString(" ")

  /** `ctx + quote-of-target + out`: shares a 14-token run with `target`
    * (winnow guarantee fires on any shared run of ≥ w+k−1 tokens) while
    * keeping whole-doc Jaccard far below band-candidate range.
    */
  private def quoteOf(target: String, ctxStem: String, outStem: String): String =
    (0 until 14).map(i => if (i % 5 == 4) "the" else s"$ctxStem$i").mkString(" ") +
      " " + target.split(" ").slice(10, 24).mkString(" ") + " " +
      (0 until 14).map(i => if (i % 5 == 4) "and" else s"$outStem$i").mkString(" ")

  test("curation batch stages 1-5 replay in SQL: keeper set row-identical to the streaming sink") {
    // ALL FIVE sink stages in one spark.sql chain (round-15: stages 1-2
    // joined the round-14 stages 3-5 twin): the quality gate (keepNarrow
    // restated with array SQL), the exact-fingerprint probe (md5 of the
    // NFC canon, stored-hash anti-join + within-batch min-doc_id
    // window), then band near-dup → winnow containment → semantic cell
    // probe over the gate/exact survivors — plain relational ops once
    // the kernels (nfc_normalize, minhash_sig, md5 banding, relational
    // winnowing, vec_dot) are SQL-registered. The SAME stored state +
    // the SAME raw batch, probed through spark.sql, must keep exactly
    // the docs the sink kept. Fixture text is single-spaced ASCII
    // except the planted case/whitespace variant (which the canon must
    // fold); every drop arm is exercised: quality junk, null embedding,
    // cross-corpus and within-batch exact, and cross/within arms of all
    // three probe stages.
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{array, col}
    import graft.functions.Dedup
    import spark.implicits._
    GraftExtensions.register(spark)
    val corpus = tmpDir("cursql-corpus")
    val cents = Seq(
      (0, Seq(1.0, 0.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0, 0.0)),
      (2, Seq(0.0, 0.0, 1.0, 0.0)), (3, Seq(0.0, 0.0, 0.0, 1.0)))
      .toDF("cell_id", "centroid")
    val tA = curText("alpha"); val tB = curText("bravo"); val tC = curText("charlie")
    val t16 = curText("golf"); val t18 = curText("hotel")
    val t32 = curText("kilo")
    val batch1 = Seq(
      (11L, tB + " extra tail words here", Seq(0.0, 0.0, 0.6, 0.8)),   // cross band (vs 2)
      (12L, quoteOf(tC, "qtx", "qout"), Seq(0.0, 0.6, 0.0, 0.8)),      // cross winnow (vs 3)
      (13L, curText("echo"), Seq(0.995, 0.0995, 0.0, 0.0)),            // cross cell (vs 1)
      (15L, curText("foxtrot"), Seq(0.0, 0.0, 0.0, 1.0)),              // keeper
      (16L, t16, Seq(0.5, 0.0, 0.0, 0.866)),                           // keeper
      (17L, t16 + " extra tail words here", Seq(0.0, 0.0, 0.8, 0.6)),  // within band (vs 16)
      (18L, t18, Seq(0.0, 0.8, 0.0, 0.6)),                             // keeper
      (19L, quoteOf(t18, "wtx", "wout"), Seq(0.6, 0.0, 0.8, 0.0)),     // within winnow (vs 18)
      (20L, curText("india"), Seq(0.0, 0.0, 0.66, 0.75)),              // keeper
      (21L, curText("juliet"), Seq(0.0, 0.0, 0.67, 0.74)),             // within cell (vs 20)
      // stage-1/2 plants (round 15): quality junk, null embedding, a
      // whitespace variant of stored tA (the canon's ws-collapse must
      // fold it to tA's content_hash — cross exact; an UPPERCASE
      // variant would instead die at stage 1, where the stopword check
      // sees raw tokens), and an identical pair (within exact: min
      // doc_id 32 survives and lands as a keeper)
      (30L, Seq.fill(40)("aa").mkString(" "), Seq(0.0, 0.0, 0.0, 1.0)),  // quality junk (stage 1)
      (31L, "  " + tA.replace(" ", "  ") + "  ", Seq(0.0, 0.0, 0.6, 0.8)), // cross exact (vs 1)
      (32L, t32, Seq(0.8, 0.0, 0.0, 0.6)),                               // keeper (within-exact winner)
      (33L, t32, Seq(0.0, 0.0, 0.8, 0.6)),                               // within exact (vs 32)
      (34L, curText("mike"), null))                                      // null embedding (stage 1)

    // fixture sanity — each planted doc is catchable by exactly the
    // intended mechanism (the StreamingSpec capstone's cross-check)
    val fixture = (Seq((2L, tB), (3L, tC)) ++ batch1.map(d => (d._1, d._2)))
      .toDF("doc_id", "text")
    val bandsOf = Dedup.withLshBands(Dedup.withMinHash(fixture, "text", 16, 3), 16, 4)
      .select(col("doc_id"), array((0 until 4).map(b => col(s"band$b")): _*).as("bs"))
      .as[(Long, Seq[String])].collect().toMap
    def bandHit(a: Long, b: Long): Boolean =
      bandsOf(a).zip(bandsOf(b)).exists(p => p._1 == p._2)
    val fpsOf = Dedup.winnowFingerprints(fixture, "doc_id", "text", 3, 4)
      .select(col("doc_id"), col("fp_hash")).distinct()
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(bandHit(11L, 2L), "11 must band-hit stored 2")
    assert(bandHit(17L, 16L), "17 must band-hit batchmate 16")
    assert(!bandHit(12L, 3L) && fpsOf(12L).intersect(fpsOf(3L)).size >= 2,
      "12 must be winnow-only catchable vs stored 3")
    assert(!bandHit(19L, 18L) && fpsOf(19L).intersect(fpsOf(18L)).size >= 2,
      "19 must be winnow-only catchable vs batchmate 18")

    // DataFrame path: batch 0 seeds the corpus + sidecars, batch 1 probes
    val ms = MemoryStream[(Long, String, Seq[Double])]
    val cp = tmpDir("cursql-cp")
    def run(): Unit =
      graft.streaming.CorpusIngest.startCurationSink(
        ms.toDF().toDF("doc_id", "text", "embedding"), corpus, cp, cents)
        .awaitTermination()
    ms.addData(
      (1L, tA, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, tB, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, tC, Seq(0.0, 0.0, 1.0, 0.0)))
    run()
    ms.addData(batch1: _*)
    run()
    val sinkKept = spark.read.parquet(corpus)
      .filter(col("batch_id") === 1).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(sinkKept === Seq(15L, 16L, 18L, 20L, 32L), "sink keeper set drifted")

    // SQL path over the same state: the RAW batch (pre-gate) plus the
    // stored corpus hashes and the sidecars minus the batch being
    // replayed (probeBands/probeWinnow/probeCells exclude the current
    // batch's own partitions; the pfx/cell IN-list pruning they add is
    // I/O-only and semantics-free, so the twin omits it)
    batch1.toDF("doc_id", "text", "embedding").createOrReplaceTempView("cur_raw")
    cents.createOrReplaceTempView("cur_cents")
    spark.read.parquet(corpus).filter(col("batch_id") =!= 1)
      .select("content_hash").createOrReplaceTempView("cur_hashes0")
    spark.read.parquet(s"$corpus/_graft_bands").filter(col("batch_id") =!= 1)
      .select("band", "bh").createOrReplaceTempView("cur_bands0")
    spark.read.parquet(s"$corpus/_graft_winnow").filter(col("batch_id") =!= 1)
      .select("doc_id", "fp_hash").createOrReplaceTempView("cur_winnow0")
    spark.read.parquet(s"$corpus/_graft_cells").filter(col("batch_id") =!= 1)
      .select("cell", "emb").createOrReplaceTempView("cur_cells0")
    def cosGe(a: String, b: String): String =
      s"""round(CASE WHEN sqrt(vec_dot($a, $a)) * sqrt(vec_dot($b, $b)) = 0D THEN 0D
         |  ELSE vec_dot($a, $b) / (sqrt(vec_dot($a, $a)) * sqrt(vec_dot($b, $b))) END,
         |  6) >= 0.9D""".stripMargin
    val bandCols = (0 until 4).map { b =>
      val mh = (4 * b until 4 * b + 4)
        .map(j => s"CAST(element_at(s, ${j + 1}) AS STRING)").mkString(", ")
      s"md5(concat_ws('|', $mh)) AS band$b"
    }.mkString(",\n    ")
    // stage 1 (keepNarrow restated over array SQL; minTokens=1 default
    // is subsumed by the >= 30 Gopher floor) + stage 2 (the NFC-canon
    // md5, stored-hash anti-join, within-batch min-doc_id window — the
    // SeenHashProcessor's deterministic keeper rule)
    val stops = graft.functions.TextAnalysis.EnglishStopwords
      .map(s => s"'$s'").mkString(", ")
    val stage12 =
      s"""toks1 AS (
         |  SELECT doc_id, text, CAST(embedding AS ARRAY<DOUBLE>) AS embedding,
         |    split(trim(text), '\\\\s+') AS tk
         |  FROM cur_raw WHERE embedding IS NOT NULL),
         |gate1 AS (
         |  SELECT doc_id, text, embedding FROM toks1
         |  WHERE size(tk) BETWEEN 30 AND 100000
         |    AND round(aggregate(tk, 0L, (a, t) -> a + length(t))
         |          / CAST(greatest(size(tk), 1) AS DOUBLE), 4) BETWEEN 3.0D AND 10.0D
         |    AND round(size(filter(tk, t -> array_contains(array($stops), t)))
         |          / CAST(greatest(size(tk), 1) AS DOUBLE), 4) >= 0.02D),
         |hashed AS (
         |  SELECT doc_id, text, embedding,
         |    md5(trim(regexp_replace(lower(nfc_normalize(text)), '\\\\s+', ' '))) AS content_hash
         |  FROM gate1),
         |cross2 AS (
         |  SELECT DISTINCT h.doc_id FROM hashed h
         |  JOIN cur_hashes0 s ON h.content_hash = s.content_hash),
         |keep2 AS (
         |  SELECT doc_id, text, embedding FROM (
         |    SELECT f.doc_id, f.text, f.embedding,
         |      min(f.doc_id) OVER (PARTITION BY f.content_hash) AS keeper
         |    FROM (SELECT h.* FROM hashed h
         |          LEFT ANTI JOIN cross2 c ON h.doc_id = c.doc_id) f)
         |  WHERE doc_id = keeper)"""
    val sqlKept = spark.sql(
      s"""WITH ${stage12.stripMargin},
         |sigarr AS (
         |  SELECT doc_id, text, embedding,
         |    minhash_sig(nfc_normalize(text), 16, 3) AS s
         |  FROM keep2),
         |sig AS (
         |  SELECT doc_id, text, embedding,
         |    $bandCols
         |  FROM sigarr),
         |blong AS (
         |  SELECT doc_id, 0 AS band, band0 AS bh FROM sig
         |  UNION ALL SELECT doc_id, 1, band1 FROM sig
         |  UNION ALL SELECT doc_id, 2, band2 FROM sig
         |  UNION ALL SELECT doc_id, 3, band3 FROM sig),
         |cross3 AS (
         |  SELECT DISTINCT l.doc_id FROM blong l
         |  JOIN cur_bands0 s ON l.band = s.band AND l.bh = s.bh),
         |within3 AS (
         |  SELECT DISTINCT hi.doc_id FROM blong lo JOIN blong hi
         |    ON lo.band = hi.band AND lo.bh = hi.bh AND lo.doc_id < hi.doc_id),
         |keep3 AS (
         |  SELECT k.doc_id, k.text, k.embedding FROM sig k
         |  LEFT ANTI JOIN cross3 c ON k.doc_id = c.doc_id
         |  LEFT ANTI JOIN within3 w ON k.doc_id = w.doc_id),
         |toks AS (
         |  SELECT doc_id, split(trim(lower(text)), ' ') AS t FROM keep3
         |  WHERE size(split(trim(lower(text)), ' ')) >= 3),
         |grams AS (
         |  SELECT doc_id, pos, md5(g) AS h, size(t) - 2 AS ngr
         |  FROM toks
         |  LATERAL VIEW posexplode(transform(sequence(0, size(t) - 3),
         |    i -> concat_ws(' ', t[i], t[i + 1], t[i + 2]))) x AS pos, g),
         |winfp AS (
         |  SELECT DISTINCT doc_id, substring(wk, 1, 32) AS fp_hash
         |  FROM (
         |    SELECT doc_id, pos, ngr,
         |      min(concat(h, '#', lpad(CAST(ngr - pos AS STRING), 10, '0')))
         |        OVER (PARTITION BY doc_id ORDER BY pos
         |              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wk
         |    FROM grams)
         |  WHERE pos <= ngr - 4),
         |stored4 AS (SELECT doc_id AS cid, fp_hash FROM cur_winnow0),
         |hot AS (
         |  SELECT fp_hash FROM (
         |    SELECT fp_hash, count(1) AS df FROM (
         |      SELECT fp_hash FROM winfp UNION ALL SELECT fp_hash FROM stored4)
         |    GROUP BY fp_hash)
         |  WHERE df > 50),
         |bf AS (SELECT w.doc_id, w.fp_hash FROM winfp w
         |  LEFT ANTI JOIN hot h ON w.fp_hash = h.fp_hash),
         |sf AS (SELECT s.cid, s.fp_hash FROM stored4 s
         |  LEFT ANTI JOIN hot h ON s.fp_hash = h.fp_hash),
         |cross4 AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT b.doc_id, s.cid FROM bf b JOIN sf s ON b.fp_hash = s.fp_hash
         |    GROUP BY b.doc_id, s.cid
         |    HAVING count(1) >= 2)),
         |within4 AS (
         |  SELECT DISTINCT ib AS doc_id FROM (
         |    SELECT a.doc_id AS ia, b.doc_id AS ib
         |    FROM bf a JOIN bf b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
         |    GROUP BY a.doc_id, b.doc_id
         |    HAVING count(1) >= 2)),
         |keep4 AS (
         |  SELECT k.doc_id, k.embedding FROM keep3 k
         |  LEFT ANTI JOIN cross4 c ON k.doc_id = c.doc_id
         |  LEFT ANTI JOIN within4 w ON k.doc_id = w.doc_id),
         |assigned AS (
         |  SELECT doc_id, embedding, cell FROM (
         |    SELECT k.doc_id, k.embedding, c.cell_id AS cell,
         |      row_number() OVER (PARTITION BY k.doc_id ORDER BY
         |        vec_dot(c.centroid, c.centroid) - 2D * vec_dot(k.embedding, c.centroid) ASC,
         |        c.cell_id ASC) AS rn
         |    FROM keep4 k CROSS JOIN cur_cents c)
         |  WHERE rn = 1),
         |cross5 AS (
         |  SELECT DISTINCT a.doc_id
         |  FROM assigned a JOIN cur_cells0 s ON a.cell = s.cell
         |  WHERE ${cosGe("a.embedding", "s.emb")}),
         |within5 AS (
         |  SELECT DISTINCT a.doc_id
         |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND b.doc_id < a.doc_id
         |  WHERE ${cosGe("a.embedding", "b.embedding")})
         |SELECT k.doc_id FROM keep4 k
         |LEFT ANTI JOIN cross5 c ON k.doc_id = c.doc_id
         |LEFT ANTI JOIN within5 w ON k.doc_id = w.doc_id
         |ORDER BY k.doc_id""".stripMargin)
      .as[Long].collect().toSeq
    assert(sqlKept === sinkKept,
      s"SQL stage 3-5 replay diverged: sql=$sqlKept sink=$sinkKept")
  }

  test("compaction loser derivation replays in SQL: near-dup loser set identical, incl. a transitive chain") {
    // The maintenance-path twin (round-16): the rows compactNearDupCorpus
    // removes must be derivable through spark.sql from the same stored
    // band columns — pairs by shared (band, bh), transitive min-label
    // clustering, smallest (doc_id, epoch, batch_id) struct kept. The
    // fixture plants a 3-doc cross-epoch CHAIN (A~A', A'~A'' where the
    // ends may only connect through the middle), so the twin proves the
    // component closure, not just the direct pairs.
    import org.apache.spark.sql.functions.{col, lit}
    import graft.functions.Dedup
    import spark.implicits._
    GraftExtensions.register(spark)
    val corpus = tmpDir("cmpsql-nd")
    def mkDoc(stem: String): String = (0 until 60).map(i => s"$stem$i").mkString(" ")
    val tA = mkDoc("alpha")
    def part(rows: Seq[(Long, String)], epoch: Long, batch: Long): Unit =
      Dedup.lshSignature(rows.toDF("doc_id", "text"), "text", 16, 4, 3)
        .withColumn("epoch", lit(epoch)).withColumn("batch_id", lit(batch))
        .write.mode("append").partitionBy("epoch", "batch_id").parquet(corpus)
    part(Seq((10L, tA), (11L, mkDoc("bravo"))), 0L, 0L)
    part(Seq((20L, tA + " trailing extra")), 1L, 0L)
    part(Seq((22L, tA + " other trailing"), (23L, mkDoc("delta"))), 2L, 0L)
    graft.streaming.CorpusIngest.buildBandIndex(spark, corpus)

    // register the PRE-compaction corpus (materialized — the view must
    // survive the compaction's partition rewrites underneath it)
    val before = spark.read.parquet(corpus)
      .select((Seq("doc_id", "epoch", "batch_id") ++
        (0 until 4).map(b => s"band$b")).map(col): _*)
      .localCheckpoint(true)
    before.createOrReplaceTempView("cmpsql_nd_corpus")
    val beforeIds = before.select("doc_id").as[Long].collect().toSet

    val removed = graft.streaming.CorpusIngest.compactNearDupCorpus(spark, corpus)
    val afterIds = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    val actualLosers = (beforeIds -- afterIds).toSeq.sorted
    assert(removed === actualLosers.size.toLong)
    assert(actualLosers === Seq(20L, 22L), "fixture drifted: expected the two chained near-dups to lose")

    val sqlLosers = SqlReplay.runText(spark,
        SqlReplay.compactionLoserSql("neardup", "cmpsql_nd_corpus"))
      .select("doc_id").as[Long].collect().toSeq
    assert(sqlLosers === actualLosers,
      s"SQL loser twin diverged: sql=$sqlLosers actual=$actualLosers")
    graft.functions.Dedup.freeLocalCheckpoint(before)
  }

  test("compaction loser derivation replays in SQL: semantic loser set identical across a 2-hop cosine chain") {
    // Same twin for compactSemanticCorpus: same-cell pairs scored with
    // the 6-dp cosine kernel, transitively clustered. The fixture is a
    // 2-hop chain at 24° steps under threshold 0.9 (cos 24° ≈ 0.914 ≥
    // 0.9, cos 48° ≈ 0.669 < 0.9): a~b and b~c pair, a~c does NOT — so
    // c is a loser ONLY through the transitive closure.
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    GraftExtensions.register(spark)
    val corpus = tmpDir("cmpsql-sem")
    // both centroids on the x half-plane: all three vectors land in cell 0
    val centroids = Seq((0, Seq(1.0, 0.0)), (1, Seq(-1.0, 0.0)))
      .toDF("cell_id", "centroid")
    def rad(d: Double) = math.toRadians(d)
    val a = Seq(1.0, 0.0)
    val b = Seq(math.cos(rad(24)), math.sin(rad(24)))
    val c = Seq(math.cos(rad(48)), math.sin(rad(48)))
    def part(rows: Seq[(Long, String, Seq[Double], Int)], epoch: Long, batch: Long): Unit =
      rows.toDF("doc_id", "text", "embedding", "cell")
        .withColumn("epoch", lit(epoch)).withColumn("batch_id", lit(batch))
        .write.mode("append").partitionBy("epoch", "batch_id").parquet(corpus)
    part(Seq((10L, "aye", a, 0), (11L, "off-axis", Seq(-0.9, 0.1), 1)), 0L, 0L)
    part(Seq((20L, "bee", b, 0)), 1L, 0L)
    part(Seq((22L, "sea", c, 0)), 2L, 0L)
    graft.streaming.CorpusIngest.buildCellIndex(spark, corpus, centroids)

    val before = spark.read.parquet(corpus)
      .select(col("doc_id"), col("epoch"), col("batch_id"), col("cell"),
        col("embedding"))
      .localCheckpoint(true)
    before.createOrReplaceTempView("cmpsql_sem_corpus")
    val beforeIds = before.select("doc_id").as[Long].collect().toSet

    val removed = graft.streaming.CorpusIngest.compactSemanticCorpus(
      spark, corpus, threshold = 0.9)
    val afterIds = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    val actualLosers = (beforeIds -- afterIds).toSeq.sorted
    assert(removed === actualLosers.size.toLong)
    assert(actualLosers === Seq(20L, 22L),
      "fixture drifted: the 2-hop chain must lose both non-minimum docs")

    val sqlLosers = SqlReplay.runText(spark,
        SqlReplay.compactionLoserSql("semantic", "cmpsql_sem_corpus", threshold = 0.9))
      .select("doc_id").as[Long].collect().toSeq
    assert(sqlLosers === actualLosers,
      s"SQL semantic loser twin diverged: sql=$sqlLosers actual=$actualLosers")
    graft.functions.Dedup.freeLocalCheckpoint(before)
  }

  test("compaction loser derivation replays in SQL: containment loser set identical through a quote chain") {
    // Third family: compactContainmentCorpus's winnow-fingerprint pairs
    // recomputed from stored text in SQL. Doc 9 quotes doc 1's 20-token
    // run; doc 12 quotes a DIFFERENT run of doc 9 (not present in 1),
    // so 12 only loses through the transitive closure 1~9~12.
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    GraftExtensions.register(spark)
    val corpus = tmpDir("cmpsql-cont")
    val run20 = (0 until 20).map(i => s"c$i").mkString(" ")
    val tail20 = (0 until 20).map(i => s"t$i").mkString(" ")
    def part(rows: Seq[(Long, String)], epoch: Long, batch: Long): Unit =
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"),
          lit(epoch).as("epoch"), lit(batch).as("batch_id"))
        .write.mode("append").partitionBy("epoch", "batch_id").parquet(corpus)
    part(Seq(
      (1L, run20 + " original framing words"),
      (2L, (0 until 20).map(i => s"d$i").mkString(" "))), 0L, 0L)
    part(Seq((9L, "quoted " + run20 + " then " + tail20)), 1L, 0L)
    part(Seq((12L, "elsewhere " + tail20 + " reused verbatim")), 2L, 0L)
    // adopt (builds the winnow index + pins k/w meta)
    val ms = MemoryStream[(Long, String)]
    graft.streaming.CorpusIngest.startContainmentCorpusSink(
      ms.toDF().toDF("doc_id", "text"), corpus, tmpDir("cmpsql-cont-cp"),
      minTokens = 1).awaitTermination()

    val before = spark.read.parquet(corpus)
      .select(col("doc_id"), col("epoch"), col("batch_id"), col("text"))
      .localCheckpoint(true)
    before.createOrReplaceTempView("cmpsql_cont_corpus")
    val beforeIds = before.select("doc_id").as[Long].collect().toSet

    val removed = graft.streaming.CorpusIngest.compactContainmentCorpus(spark, corpus)
    val afterIds = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    val actualLosers = (beforeIds -- afterIds).toSeq.sorted
    assert(removed === actualLosers.size.toLong)
    assert(actualLosers === Seq(9L, 12L),
      "fixture drifted: both quoting docs must lose through the chain")

    val sqlLosers = SqlReplay.runText(spark,
        SqlReplay.compactionLoserSql("containment", "cmpsql_cont_corpus"))
      .select("doc_id").as[Long].collect().toSeq
    assert(sqlLosers === actualLosers,
      s"SQL containment loser twin diverged: sql=$sqlLosers actual=$actualLosers")
    graft.functions.Dedup.freeLocalCheckpoint(before)
  }

  test("refitCellIndex's re-assignment replays in SQL: changed set identical, with planted NaN-embedding and tie rows") {
    // The last DataFrame-only maintenance computation gets its SQL twin
    // (round-16 verdict #6). The fixture forces every kernel edge the
    // scaladoc pins: doc 2 is EQUIDISTANT from both new centroids (tie
    // → lowest cell), doc 4 carries a NaN embedding (kernel fallback →
    // lowest cell, unchanged under both centroid sets), docs 1/3 swap
    // cells under the rotation.
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    GraftExtensions.register(spark)
    val corpus = tmpDir("refitsql")
    val centsA = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
      .toDF("cell_id", "centroid")
    val centsB = Seq((0, Seq(-1.0, 1.0)), (1, Seq(1.0, 1.0)))
      .toDF("cell_id", "centroid")
    def part(rows: Seq[(Long, String, Seq[Double], Int)], epoch: Long, batch: Long): Unit =
      rows.toDF("doc_id", "text", "embedding", "cell")
        .withColumn("epoch", lit(epoch)).withColumn("batch_id", lit(batch))
        .write.mode("append").partitionBy("epoch", "batch_id").parquet(corpus)
    part(Seq(
      (1L, "x leaning doc", Seq(1.0, 0.1), 0),
      (4L, "nan embedding doc", Seq(Double.NaN, 1.0), 0)), 0L, 0L)
    part(Seq(
      (2L, "tie doc on the y axis", Seq(0.0, 1.0), 1),
      (3L, "negative x doc", Seq(-1.0, 0.2), 1)), 1L, 0L)
    graft.streaming.CorpusIngest.buildCellIndex(spark, corpus, centsA)

    val before = spark.read.parquet(corpus)
      .select(col("doc_id"), col("epoch").cast("long"),
        col("batch_id").cast("long"), col("cell"), col("embedding"))
      .toDF("doc_id", "epoch", "batch_id", "cell", "embedding")
      .localCheckpoint(true)
    before.createOrReplaceTempView("refitsql_corpus")
    centsB.createOrReplaceTempView("refitsql_cents")
    val beforeCells = before.select("doc_id", "cell")
      .as[(Long, Int)].collect().toMap

    // the twin runs BEFORE the mutation, off the same stored state the
    // refit's staleness probe reads
    val sqlChanged = SqlReplay.runText(spark,
        SqlReplay.refitChangedSql("refitsql_corpus", "refitsql_cents"))
      .select("doc_id", "old_cell", "new_cell")
      .as[(Long, Int, Int)].collect().toSeq

    val changed = graft.streaming.CorpusIngest.refitCellIndex(spark, corpus, centsB)
    val afterCells = spark.read.parquet(corpus).select("doc_id", "cell")
      .as[(Long, Int)].collect().toMap
    val actualChanged = beforeCells.collect {
      case (id, oc) if afterCells(id) != oc => (id, oc, afterCells(id))
    }.toSeq.sortBy(_._1)
    assert(changed === actualChanged.size.toLong)
    assert(actualChanged === Seq((1L, 0, 1), (2L, 1, 0), (3L, 1, 0)),
      "fixture drifted: rotation must swap 1/3 and tie-break 2 to cell 0")
    assert(afterCells(4L) === 0, "NaN row must stay on the kernel's fallback cell")
    assert(sqlChanged === actualChanged,
      s"SQL refit twin diverged: sql=$sqlChanged actual=$actualChanged")
    graft.functions.Dedup.freeLocalCheckpoint(before)
  }

  test("classifier scoring replays in SQL: scores and keep decisions row-identical to the API path") {
    val docs = graft.sources.Tables.documents(spark, sf0001).limit(200).localCheckpoint(true)
    val labels = graft.functions.TextAnalysis.gopherFilter(docs, "doc_id", "text")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("keep"))
    val w = graft.functions.Classifier.trainHashedLogistic(docs, "doc_id", "text",
      labels, "keep", dim = 32, iters = 4, lr = 5.0)
    val api = graft.functions.Classifier.scoreHashedLogistic(docs, "doc_id", "text",
        w, 32, new java.math.BigDecimal("0.730000"))
      .orderBy("doc_id").collect().map(_.toString).toSeq
    docs.createOrReplaceTempView("clfsql_docs")
    graft.GraftExtensions.register(spark)
    val sql = SqlReplay.runText(spark,
        SqlReplay.classifierScoreSql("clfsql_docs", w, 32, "0.73"))
      .collect().map(_.toString).toSeq
    assert(sql === api, "SQL scoring twin diverged from the API path")
    graft.functions.Dedup.freeLocalCheckpoint(docs)
  }
}
