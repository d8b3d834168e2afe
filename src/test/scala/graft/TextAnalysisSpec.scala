package graft

import org.apache.spark.sql.functions._

import graft.functions.{Curation, TextAnalysis}
import graft.sources.Tables

/** Text-analysis semantics: the two langId forms agree, quality metrics
  * behave on edge inputs, approx distinct stays within HLL error bounds.
  */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("withLangId (staged) and langId (single-column) agree on real docs") {
    val docs = Tables.documents(spark, sf0001).limit(200)
    val staged = TextAnalysis.withLangId(docs, "text", "lp")
      .select("doc_id", "lp").as[(Long, String)].collect().toMap
    val single = docs.select(col("doc_id"),
      TextAnalysis.langId(col("text")).as("lp"))
      .as[(Long, String)].collect().toMap
    assert(staged === single)
  }

  test("langId marker semantics: clear marker → language, no markers → und") {
    val got = Seq(
      "the cat and the dog is with us",   // en markers
      "le chat et la porte des champs",   // fr markers
      "xyzzy plugh qwerty")               // none
      .toDF("text").select(TextAnalysis.langId(col("text")).as("l"))
      .as[String].collect()
    assert(got.toSeq === Seq("en", "fr", "und"))
  }

  test("quality metrics on edge inputs: single token, heavy punctuation") {
    val m = TextAnalysis.withQualityMetrics(Seq("hello", "!!! ??? !!!").toDF("text"))
      .select("n_tokens", "punct_ratio").as[(Int, Double)].collect()
    assert(m(0) === ((1, 0.0)))
    assert(m(1)._2 > 0.5)
  }

  test("chunkDocs: full coverage with overlap, short docs yield one chunk") {
    val doc = (1 to 100).map(i => s"t$i").mkString(" ") // 100 tokens
    val df = Seq((1L, doc), (2L, "a b c"), (3L, "")).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkDocs(df, "doc_id", "text",
      chunkTokens = 40, overlap = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val d1 = chunks.filter(_._1 == 1L).sortBy(_._2)
    // stride 30: chunks at 0,30,60 cover 1-40, 31-70, 61-100
    assert(d1.length === 3)
    assert(d1(0)._3.startsWith("t1 ") && d1(0)._4 === 40)
    assert(d1(1)._3.startsWith("t31 ") && d1(1)._4 === 40)
    assert(d1(2)._3.startsWith("t61 ") && d1(2)._3.endsWith(" t100") && d1(2)._4 === 40)
    // consecutive chunks overlap by exactly `overlap` tokens
    val c0 = d1(0)._3.split(" ")
    val c1 = d1(1)._3.split(" ")
    assert(c0.takeRight(10).toSeq === c1.take(10).toSeq)
    // short and empty docs → exactly one chunk, never zero
    assert(chunks.count(_._1 == 2L) === 1)
    assert(chunks.filter(_._1 == 2L).head._3 === "a b c")
    assert(chunks.count(_._1 == 3L) === 1)
  }

  test("topTokenFraction flags repetitive docs; scrubPii masks emails and URLs") {
    val df = Seq(
      (1L, "spam spam spam spam other"),  // 4/5 repetition
      (2L, "all tokens here are unique")) // 1/5
      .toDF("doc_id", "text")
    val rep = TextAnalysis.topTokenFraction(df, "doc_id", "text")
      .select("doc_id", "top_token_frac").as[(Long, Double)].collect().toMap
    assert(rep(1L) === 0.8)
    assert(rep(2L) === 0.2)
    val scrubbed = Seq("mail a.b+c@x.co.uk and http://a.io/x?q=1 or https://b.com done")
      .toDF("text").select(TextAnalysis.scrubPii(col("text"))).as[String].head()
    assert(scrubbed === "mail <EMAIL> and <URL> or <URL> done")
  }

  test("topTokenFraction kernel ≡ explode formulation (round-19 zero-shuffle form)") {
    // edge battery: empty text (split → [''], one token), whitespace-only
    // (same), null (row dropped — the explode's behavior), single token,
    // ties, and the fixture corpus end to end
    val edges = Seq(
      (0L, "a a b"), (1L, ""), (2L, "   \t "), (3L, "solo"),
      (4L, "x y x y"), (5L, null.asInstanceOf[String]),
      (6L, "  padded   runs\tof\nwhitespace padded  "))
      .toDF("doc_id", "text")
    def oldForm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("__tok"))
        .groupBy(col("doc_id"), col("__tok")).agg(count(lit(1)).as("__cnt"))
        .groupBy(col("doc_id"))
        .agg(max(col("__cnt")).as("top_count"),
          sum(col("__cnt")).cast("long").as("n_tokens"))
        .withColumn("top_token_frac",
          round(col("top_count").cast("double") / col("n_tokens"), 4))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(rows(TextAnalysis.topTokenFraction(edges, "doc_id", "text"))
      === rows(oldForm(edges)))
    // null text yields no output row in either form
    assert(!TextAnalysis.topTokenFraction(edges, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().exists(_._1 == 5L))
    val corpus = Tables.documents(spark, sf0001)
    assert(rows(TextAnalysis.topTokenFraction(corpus, "doc_id", "text"))
      === rows(oldForm(corpus)))
  }

  test("tokenCount / qualityStats kernels ≡ split+HOF forms (round-20)") {
    // the round-20 allocation-free kernels behind tokenCount,
    // avgTokenLength, stopwordRatio, keepNarrow and the gopherFilter
    // scalar triple: value- AND type-identical to the split/HOF forms,
    // including the empty-edge-token subtleties (trim strips ASCII
    // spaces only, so tab/newline edges yield empty tokens), null text,
    // multi-byte code points (length counts code points, not bytes),
    // and stopword matching by byte equality
    val edges = Seq(
      (0L, "the cat and a dog of it"), (1L, ""), (2L, "   \t "),
      (3L, "solo"), (4L, null.asInstanceOf[String]),
      (5L, "  padded   runs\tof\nwhitespace padded  "),
      (6L, "\tleading and trailing\n"), (7L, "Café naïve 東京 la"),
      (8L, "THE The the tHe"), (9L, " \t \n "), (10L, "a"))
      .toDF("doc_id", "text")
    val corpus = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    for (df <- Seq(edges, corpus)) {
      val oldCount = df.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n"))
        .as[(Long, Option[Int])].collect().toMap
      val newCount = df.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n"))
        .as[(Long, Option[Int])].collect().toMap
      assert(newCount === oldCount)
      val toks = split(trim(col("text")), "\\s+")
      val nToks = greatest(size(toks), lit(1)).cast("double")
      val stopLits = TextAnalysis.EnglishStopwords.map(lit)
      val oldStats = df.select(col("doc_id"),
        round(aggregate(toks, lit(0L), (acc, t) => acc + length(t))
          .cast("double") / nToks, 4).as("avg"),
        round(size(filter(toks, t => t.isin(stopLits: _*)))
          .cast("double") / nToks, 4).as("stop"))
        .as[(Long, Option[Double], Option[Double])].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val newStats = df.select(col("doc_id"),
        round(TextAnalysis.avgTokenLength(col("text")), 4).as("avg"),
        round(TextAnalysis.stopwordRatio(col("text")), 4).as("stop"))
        .as[(Long, Option[Double], Option[Double])].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(newStats === oldStats)
    }
    // keepNarrow decisions on the fixture corpus match the literal HOF
    // gate shape (null-safe: null text → null → dropped by filter)
    def hofKeep(text: org.apache.spark.sql.Column) = {
      val toks = TextAnalysis.tokens(text)
      val nToks = greatest(size(toks), lit(1)).cast("double")
      val stopLits = TextAnalysis.EnglishStopwords.map(lit)
      val avgLen = round(
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / nToks, 4)
      val stopRatio = round(
        size(filter(toks, t => t.isin(stopLits: _*))).cast("double") / nToks, 4)
      size(toks) >= 30 && size(toks) <= 100000 &&
        avgLen >= 3.0 && avgLen <= 10.0 && stopRatio >= 0.02
    }
    val a = corpus.filter(
      graft.streaming.QualityDrift.keepNarrow(col("text")))
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = corpus.filter(hofKeep(col("text")))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a === b)
  }

  test("stopwordRatio refuses an empty stop word instead of diverging from the HOF form") {
    // size(filter(toks, isin(''))) counts empty edge tokens; the kernel
    // never matches a zero-length stop word, so the list is refused
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.stopwordRatio(col("text"), Seq(""))
    }
    assert(e.getMessage.contains("non-empty"), e.getMessage)
  }

  test("wordHits kernel ≡ HOF filter+isin (round-20)") {
    val edges = Seq(
      (0L, "the cat THE the tHe"), (1L, ""), (2L, "   \t "),
      (3L, null.asInstanceOf[String]), (4L, "\tthe and\n"),
      (5L, "naïve café the 東京"), (6L, "le la les et the"))
      .toDF("doc_id", "text")
    val corpus = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    // duplicate words in the list must not double-count a token; an
    // empty word counts the empty edge tokens exactly like isin
    for (words <- Seq(TextAnalysis.EnglishStopwords,
        Seq("the", "the", "café"), Seq("", "the"),
        TextAnalysis.LangMarkers.toMap.apply("fr"))) {
      val lits = words.map(lit)
      for (df <- Seq(edges, corpus)) {
        val hof = df.select(col("doc_id"),
          size(filter(TextAnalysis.tokens(col("text")),
            t => t.isin(lits: _*))).as("h"))
          .as[(Long, Option[Int])].collect().toMap
        val kern = df.select(col("doc_id"),
          TextAnalysis.wordHits(col("text"), words).as("h"))
          .as[(Long, Option[Int])].collect().toMap
        assert(kern === hof, s"mismatch for words=$words")
      }
    }
  }

  test("bigramCounts kernel ≡ explode(bigrams)+groupBy, fixture corpus + edges (round 19)") {
    // the kernel feeds the qd62/qd78 doc side; flattened it must equal
    // the relational grouped count exactly — including the empty-edge-
    // token bigrams a tab/newline edge produces (concat_ws keeps "")
    val edges = Seq(
      (0L, "a b a b c"), (1L, "solo"), (2L, ""), (3L, "  \t x y"),
      (4L, "p p p"), (5L, null.asInstanceOf[String]),
      (6L, "x\ty\nz  w "))
      .toDF("doc_id", "text")
    val corpus = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    def viaKernel(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
          graft.functions.NativeExpressions.bigramCounts(col("text")).as("__bc"))
        .select(col("doc_id"), explode(arrays_zip(
          col("__bc").getField("bgs").as("bgs"),
          col("__bc").getField("cnts").as("cnts"))).as("__z"))
        .select(col("doc_id"), col("__z.bgs").as("bg"), col("__z.cnts").as("cnt"))
        .as[(Long, String, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    def viaExplode(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), explode(TextAnalysis.bigrams(col("text"))).as("bg"))
        .groupBy(col("doc_id"), col("bg"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .as[(Long, String, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(viaKernel(edges) === viaExplode(edges))
    assert(viaKernel(corpus) === viaExplode(corpus))
  }

  test("dupNgramStats kernel edges: empty/ws-only/short docs (round-19 form)") {
    // portable(relational) path is the ground truth the DuckDB oracle
    // replays; the kernel path must agree including degenerate docs
    import graft.functions.Dedup
    val edges = Seq(
      (0L, ""), (1L, " \t "), (2L, "a b"), (3L, "a b a b a b"),
      (4L, "one two three four"), (5L, "r r r r r"))
      .toDF("doc_id", "text")
    def rows(portable: Boolean) =
      Dedup.intraDocDupNgramFraction(edges, "doc_id", "text", n = 3, portable)
        .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(rows(portable = false) === rows(portable = true))
    // empty text: split(trim('')) = [''] — one token, nothing covered
    val empty = rows(portable = false).find(_._1 == 0L).get
    assert(empty === ((0L, 1L, 0L, 0.0)))
  }

  test("curation: balanced sample caps per group, budget mix stops at the budget") {
    import graft.functions.Curation
    val df = Seq(
      ("a", 1L, 60), ("a", 2L, 50), ("a", 3L, 40), // cum 60, 110, 150
      ("b", 4L, 30)
    ).toDF("grp", "doc_id", "n_tok")
    val bal = Curation.balancedSample(df, "grp", Seq(col("doc_id")), nPerGroup = 2)
      .select("doc_id").as[Long].collect().sorted
    assert(bal.toSeq === Seq(1L, 2L, 4L))
    val mix = Curation.tokenBudgetMix(df, "grp", Seq(col("doc_id")),
      col("n_tok"), budget = 110L)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    assert(mix === Map(1L -> 60L, 2L -> 110L, 4L -> 30L)) // doc 3 busts the budget
  }

  test("decontaminate counts distinct shared n-grams; clean docs flag false") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    // bench 3-grams: "alpha beta gamma", "beta gamma delta"
    val corpus = Seq(
      (1L, "x alpha beta gamma y"),       // shares the first gram only
      (2L, "alpha beta gamma delta end"), // shares both
      (3L, "nothing in common here at all"),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.decontaminate(corpus, "doc_id", "text",
        bench, "text", n = 3)
      .select("doc_id", "n_contaminated_grams", "contaminated")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(
      1L -> ((1L, true)), 2L -> ((2L, true)), 3L -> ((0L, false))))
  }

  test("contaminationReport: per-doc gram totals and overlap fraction (qd38)") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    // bench 3-grams: "alpha beta gamma", "beta gamma delta"
    val corpus = Seq(
      (1L, "x alpha beta gamma y"),       // 3 grams, 1 shared → 0.3333
      (2L, "alpha beta gamma delta"),     // 2 grams, 2 shared → 1.0 (a leaked eval row)
      (3L, "nothing in common here"),     // 2 grams, 0 shared
      (4L, "ab"),                         // sub-n doc: 0 grams, frac 0 (no div blowup)
    ).toDF("doc_id", "text")
    val got = TextAnalysis.contaminationReport(corpus, "doc_id", "text",
        bench, "text", n = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(
      1L -> ((3L, 1L, 0.3333)), 2L -> ((2L, 2L, 1.0)),
      3L -> ((2L, 0L, 0.0)), 4L -> ((0L, 0L, 0.0))))
    // fast ≡ portable on the fixture corpus (the portable form IS the
    // qd38 oracle)
    val docs = Tables.documents(spark, sf0001)
    def run(portable: Boolean) =
      TextAnalysis.contaminationReport(
          docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 50 === 0), "text", n = 3, portable)
        .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(run(portable = false) === run(portable = true))
  }

  test("gopherFilter: each rule binds on a doc built to trip exactly it (qd39)") {
    val stop = "the of and to in" // 5 stopwords keep the ratio healthy
    val good = s"$stop " + (0 until 40).map(i => s"word$i").mkString(" ") // 45 tokens
    val docs = Seq(
      (0L, good),                                        // passes everything
      (1L, "too short entirely"),                        // < 30 tokens
      (2L, s"$stop " + (0 until 40).map(i => s"w$i").mkString(" ")), // avg len < 3
      (3L, (0 until 45).map(i => s"word$i").mkString(" ")),          // no stopwords
      (4L, s"$stop " + Seq.fill(40)("word0").mkString(" ")),         // top-token 40/45
      (5L, s"$stop " + Seq.fill(10)("alpha beta gamma deltaaa").mkString(" ")), // dup 3-grams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherFilter(docs, "doc_id", "text")
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out(0L), "the healthy doc must pass")
    (1L to 5L).foreach(i => assert(!out(i), s"doc $i should trip its rule"))
    // fixture split is non-vacuous: both keeps and drops at sf0.001
    val fix = TextAnalysis.gopherFilter(Tables.documents(spark, sf0001), "doc_id", "text")
      .groupBy("keep").count().as[(Boolean, Long)].collect().toMap
    assert(fix.getOrElse(true, 0L) > 0 && fix.getOrElse(false, 0L) > 0, fix.toString)
  }

  test("decontaminate: xxhash64 fast path ≡ portable string-gram path") {
    // the fast path probes the broadcast map with 8-byte shingle hashes
    // instead of gram strings — same hit counts row for row; the
    // portable path IS the oracle formulation qd22 replays
    val docs = Tables.documents(spark, sf0001)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    def run(portable: Boolean) =
      TextAnalysis.decontaminate(corpus, "doc_id", "text", bench, "text",
          n = 3, portable = portable)
        .select("doc_id", "n_contaminated_grams", "contaminated")
        .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(run(portable = false) === run(portable = true))
  }

  test("dsirWeights fast featurize: n_feat hash-invariant, scores well-formed (qd36)") {
    val docs = Tables.documents(spark, sf0001)
    def run(portable: Boolean) =
      Curation.dsirWeights(docs, "doc_id", "text",
          docs.filter(col("lang") === "en"), "text", buckets = 256,
          portable = portable)
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val md5 = run(portable = true)
    val xx = run(portable = false)
    // n_feat = the doc's total bigram count — independent of WHICH hash
    // buckets the bigrams land in
    assert(md5.map(r => (r._1, r._2)) === xx.map(r => (r._1, r._2)))
    // both featurizations must separate the same target slice: English
    // docs (the target) should average higher than non-English in both
    val en = docs.filter(col("lang") === "en")
      .select("doc_id").as[Long].collect().toSet
    def gap(rows: Seq[(Long, Long, Double)]): Double = {
      val (t, o) = rows.partition(r => en(r._1))
      t.map(_._3).sum / t.size - o.map(_._3).sum / o.size
    }
    assert(gap(md5) > 0, "md5 path must separate the target slice")
    assert(gap(xx) > 0, "xx path must separate the target slice")
  }

  test("withSplit is a pure function of the id — stable across partitionings") {
    val docs = Tables.documents(spark, sf0001)
    def splits(df: org.apache.spark.sql.DataFrame) =
      Curation.withSplit(df, "doc_id")
        .select("doc_id", "split").as[(Long, String)].collect().toMap
    val a = splits(docs)
    val b = splits(docs.repartition(13))
    assert(a === b) // a doc's split never depends on execution layout
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    // 90/5/5 target: train share must dominate (hash noise allowed)
    assert(a.values.count(_ == "train").toDouble / a.size > 0.8)
  }

  test("leakageSafeSplit: clusters never straddle splits; singletons match withSplit") {
    val docs = Tables.documents(spark, sf0001)
    // synthetic clusters pairing ids whose INDEPENDENT hashes straddle
    // splits (found from the withSplit assignment itself, so the test
    // can't go vacuous if the corpus or hash changes)
    val base = Curation.withSplit(docs, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect()
    val train = base.filter(_._2 == "train").map(_._1).take(3)
    val test_ = base.filter(_._2 == "test").map(_._1).take(3)
    assume(train.length >= 3 && test_.length >= 2)
    // cluster 1: one train + one test doc; cluster 2: two train + one test
    val clusters = Seq(
      (train(0), math.min(train(0), test_(0))), (test_(0), math.min(train(0), test_(0))),
      (train(1), train(1).min(train(2)).min(test_(1))),
      (train(2), train(1).min(train(2)).min(test_(1))),
      (test_(1), train(1).min(train(2)).min(test_(1))))
      .toDF("doc_id", "cluster_id")
    val got = Curation.leakageSafeSplit(docs, "doc_id", clusters)
      .select("doc_id", "group_key", "split").as[(Long, Long, String)].collect()
    // purity: every cluster lands in exactly one split
    val byKey = got.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(byKey.values.forall(_.size == 1),
      "a near-dup cluster straddles splits")
    // clustered docs share their representative's hash bucket
    val gotMap = got.map(r => r._1 -> r._3).toMap
    val baseMap = base.toMap
    val clustered = clusters.select("doc_id").as[Long].collect().toSet
    val reps = clusters.select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    clustered.foreach { id => assert(gotMap(id) === baseMap(reps(id))) }
    // singletons: identical to the per-doc withSplit assignment
    gotMap.filterNot(kv => clustered(kv._1)).foreach { case (id, s) =>
      assert(s === baseMap(id)) }
    // non-vacuous: at least one doc MOVED relative to per-doc hashing
    assert(clustered.exists(id => gotMap(id) != baseMap(id)),
      "fixture clusters all agreed with per-doc hashing — test is vacuous")
  }

  test("packSequences: greedy bins respect the budget; oversized rows get own bins") {
    val df = Seq(
      // group A: 300+200 fit (500 ≤ 512), +100 busts → bin 1; 600 > 512
      // alone → bin 2; 512 exact-fits a fresh bin 3
      ("A", 1L, 300L), ("A", 2L, 200L), ("A", 3L, 100L),
      ("A", 4L, 600L), ("A", 5L, 512L),
      ("B", 1L, 10L), // independent group restarts at bin 0
    ).toDF("source", "doc_id", "n_tok")
    val got = Curation.packSequences(df, "source", "doc_id", "n_tok", 512L)
      .select("source", "doc_id", "bin_id")
      .as[(String, Long, Long)].collect().toSet
    assert(got === Set(
      ("A", 1L, 0L), ("A", 2L, 0L), ("A", 3L, 1L),
      ("A", 4L, 2L), ("A", 5L, 3L),
      ("B", 1L, 0L)))
  }

  test("weightedSample: weight 0 drops a group, 1.0 keeps it, draws are id-stable") {
    val docs = Tables.documents(spark, sf0001)
    val w = Map("src0" -> 0.0, "src1" -> 1.0)
    val kept = Curation.weightedSample(docs, "source", "doc_id", w)
    assert(kept.filter(col("source") === "src0").count() === 0L)
    assert(kept.filter(col("source") === "src1").count() ===
      docs.filter(col("source") === "src1").count())
    // half-weight draw is a pure function of the id: same rows both runs
    val half = Map("src2" -> 0.5)
    val a = Curation.weightedSample(docs, "source", "doc_id", half)
      .select("doc_id").as[Long].collect().toSet
    val b = Curation.weightedSample(docs.repartition(7), "source", "doc_id", half)
      .select("doc_id").as[Long].collect().toSet
    assert(a === b)
  }

  test("waterFillMix: hand fixture caps the scarce source and redistributes to the rest") {
    // A: 1 token, B: 100 tokens, α=0.5 → w=(1,10), r=(1,10). Budget 50:
    // level λ(0)=50/11≈4.54 > r_A → A caps at 1; λ*=(50-1)/10=4.9;
    // B takes floor(4.9·10)=49. Budget exhausted: 1+49=50.
    val docs = (Seq(("A", "x")) ++ Seq(("B", Seq.fill(100)("w").mkString(" "))))
      .toDF("source", "text")
    val got = Curation.waterFillMix(docs, "source", "text", 0.5, 50L)
      .select("source", "n_tokens", "capped", "take_tokens")
      .as[(String, Long, Boolean, Long)].collect().toSeq
    assert(got === Seq(("A", 1L, true, 1L), ("B", 100L, false, 49L)))
  }

  test("waterFillMix: budget beyond availability caps everything; zero-token sources excluded") {
    val docs = Seq(("A", "x y"), ("B", "p q r"), ("Z", null.asInstanceOf[String]))
      .toDF("source", "text")
    val got = Curation.waterFillMix(docs, "source", "text", 0.5, 1000L)
      .select("source", "capped", "take_tokens")
      .as[(String, Boolean, Long)].collect().toSeq
    assert(got === Seq(("A", true, 2L), ("B", true, 3L)))
  }

  test("waterFillMix: budget exhaustion and per-source bounds on real docs") {
    val docs = Tables.documents(spark, sf0001)
    val b = 1500L
    val rows = Curation.waterFillMix(docs, "source", "text", 0.5, b)
      .select("n_tokens", "capped", "take_tokens")
      .as[(Long, Boolean, Long)].collect()
    val s = rows.length
    val take = rows.map(_._3).sum
    // floors lose < 1 token per uncapped source
    assert(take <= b && take > b - s, s"sum take $take vs budget $b ($s sources)")
    rows.foreach { case (a, capped, t) =>
      assert(t <= a)
      if (capped) assert(t === a) // capped ⇒ take == avail
    }
  }

  test("temperatureMixWaterFill: recovers the share temperatureMix loses under binding caps; thresholds/accounting consistent") {
    val docs = Tables.documents(spark, sf0001)
    // ~95% of the corpus: sf0.001's sources are near-uniform (1.2k–1.7k
    // tokens), so the √-flattened fair share only exceeds the smallest
    // sources' availability close to full budget — 95% binds 3 caps,
    // making the redistribution branch non-vacuous (asserted below)
    val total = docs.agg(sum(
      graft.functions.TextAnalysis.tokenCount(col("text")).cast("long")))
      .as[Long].head()
    val b = (total * 95L) / 100L
    val wf = Curation.temperatureMixWaterFill(docs, "source", "doc_id",
      "text", alpha = 0.5, tokenBudget = b).collect()
    val s = wf.length
    assert(wf.exists(_.getAs[Boolean]("capped")),
      "fixture must bind at least one cap or the test is vacuous")
    assert(wf.exists(r => !r.getAs[Boolean]("capped")))
    // the redistribution law: Σ take ∈ (B−S, B]
    val take = wf.map(_.getAs[Long]("take_tokens")).sum
    assert(take <= b && take > b - s, s"sum take $take vs budget $b")
    // the plain recipe's allocation Σ min(target, avail) LOSES the
    // bound caps' excess — strictly less than the water-fill total
    val plain = Curation.temperatureMix(docs, "source", "doc_id", "text",
      alpha = 0.5, tokenBudget = b).collect()
    val plainAlloc = plain.map(r =>
      math.min(r.getAs[Long]("target_tokens"), r.getAs[Long]("n_tokens"))).sum
    assert(plainAlloc < take,
      s"plain recipe allocated $plainAlloc, water-fill $take — caps not binding?")
    // same allocation row as waterFillMix (THE SAME solve, by sharing)
    val base = Curation.waterFillMix(docs, "source", "text", 0.5, b)
      .select("source", "capped", "take_tokens")
      .as[(String, Boolean, Long)].collect().toMap2
    wf.foreach { r =>
      val (c, t) = base(r.getAs[String]("source"))
      assert(r.getAs[Boolean]("capped") === c && r.getAs[Long]("take_tokens") === t)
    }
    // thresholds: capped ⇒ keep-everything (10⁴); kept accounting
    // re-derives from the published threshold (pure function of doc_id)
    wf.foreach { r =>
      val thr = r.getAs[Int]("threshold")
      if (r.getAs[Boolean]("capped")) assert(thr === 10000, r.toString)
      val kd = docs.filter(col("source") === r.getAs[String]("source")).filter(
        graft.functions.NativeExpressions.md5Bucket(
          col("doc_id").cast("string"), 10000) < thr).count()
      assert(kd === r.getAs[Long]("kept_docs"), s"${r.getAs[String]("source")}")
      assert(r.getAs[Long]("kept_docs") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("kept_tokens") <= r.getAs[Long]("n_tokens"))
    }
  }

  private implicit class WfMapOps(rows: Array[(String, Boolean, Long)]) {
    def toMap2: Map[String, (Boolean, Long)] =
      rows.map { case (s, c, t) => s -> ((c, t)) }.toMap
  }

  test("temperatureMix: α=1 is natural shares, α=0 uniform weights; kept set honors thresholds; accounting consistent") {
    val docs = Tables.documents(spark, sf0001)
    // α=1: tempered weight == natural fraction (6 dp) for every source
    val nat = Curation.temperatureMix(docs, "source", "doc_id", "text",
      alpha = 1.0, tokenBudget = 5000L).collect()
    nat.foreach { r =>
      assert(r.getAs[Double]("temp_weight") === r.getAs[Double]("nat_frac"),
        s"α=1 should reproduce natural shares: $r")
    }
    // α=0: uniform weights 1/S regardless of source size
    val uni = Curation.temperatureMix(docs, "source", "doc_id", "text",
      alpha = 0.0, tokenBudget = 5000L).collect()
    val s = uni.length
    uni.foreach(r => assert(
      math.abs(r.getAs[Double]("temp_weight") - 1.0 / s) < 1e-6, r.toString))
    // accounting: kept ⊆ all, kept counts match a re-derivation of the
    // published threshold (the sample is a pure function of doc_id)
    val mix = Curation.temperatureMix(docs, "source", "doc_id", "text",
      alpha = 0.5, tokenBudget = 3000L)
    mix.collect().foreach { r =>
      val (src, thr) = (r.getAs[String]("source"), r.getAs[Int]("threshold"))
      val kd = docs.filter(col("source") === src).filter(
        graft.functions.NativeExpressions.md5Bucket(
          col("doc_id").cast("string"), 10000) < thr).count()
      assert(kd === r.getAs[Long]("kept_docs"), s"$src kept_docs mismatch")
      assert(r.getAs[Long]("kept_docs") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("kept_tokens") <= r.getAs[Long]("n_tokens"))
    }
    // partitioning-invariant (driver collect + md5 draw, no RNG)
    val again = Curation.temperatureMix(docs.repartition(7), "source",
      "doc_id", "text", alpha = 0.5, tokenBudget = 3000L)
    assert(again.orderBy("source").collect().map(_.toString).toSeq ===
      mix.orderBy("source").collect().map(_.toString).toSeq)
  }

  test("bigramNllGate: hand-computed add-one bigram NLL; unseen context degrades to ln(1/V); short docs keep=false") {
    // reference "a b a b c": bigrams ab, ba, ab, bc; unigrams a2 b2 c1 → V=3
    val ref = Seq(Tuple1("a b a b c")).toDF("text")
    val docs = Seq(
      (1L, "a b c"),      // bigrams: ab (c=2), bc (c=1)
      (2L, "z z"),        // zz: unseen bigram, unseen context → ln(1/V)
      (3L, "a"),          // no bigram
      (4L, "c a")         // ca: unseen bigram, seen context c (ca(ctx)=1)
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bigramNllGate(docs, "doc_id", "text", ref, "text",
        threshold = 1.05)
      .collect().map(r => r.getLong(0) -> r).toMap
    def nll(cab: Long, ca: Long): Double =
      BigDecimal(-math.log((cab + 1.0) / (ca + 3.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def avg(xs: Double*): Double =
      BigDecimal(xs.sum / xs.size).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L).getAs[Double]("avg_nll") === avg(nll(2, 2), nll(1, 2)))
    assert(got(2L).getAs[Double]("avg_nll") === avg(nll(0, 0))) // = ln 3
    assert(got(3L).getAs[Long]("n_bigrams") === 0L)
    assert(got(3L).isNullAt(got(3L).fieldIndex("avg_nll")))
    assert(!got(3L).getAs[Boolean]("keep"), "no-bigram docs must not pass the gate")
    assert(got(4L).getAs[Double]("avg_nll") === avg(nll(0, 1)))
    // threshold binds: doc 1 (common bigrams) keeps, doc 2 (alien) drops
    assert(got(1L).getAs[Boolean]("keep"))
    assert(!got(2L).getAs[Boolean]("keep"))
  }

  test("epochAllocate: hand-computed greedy over the epoch grid; caps, fractional cut, tie-break, degenerate budgets") {
    val src = Seq(("a", 100L, new java.math.BigDecimal("0.2000")),
        ("b", 100L, new java.math.BigDecimal("0.1500")))
      .toDF("source", "u", "weight")
    def run(budget: Long) =
      Curation.epochAllocate(src, "source", "u", "weight", budget,
          maxEpochs = 3, decay = new java.math.BigDecimal("0.5"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    // budget 250: a1(.2)=100, b1(.15)=100, a2(.1)=50 fractional, rest 0
    val m = run(250L)
    assert(m("a") === ((150L, 1.5, 25.0)))   // ev = .2·100 + .1·50
    assert(m("b") === ((100L, 1.0, 15.0)))
    // budget beyond supply: everything capped at maxEpochs
    val full = run(10000L)
    assert(full("a")._1 === 300L && full("a")._2 === 3.0)
    assert(full("b")._3 === 0.15 * 100 + 0.075 * 100 + 0.0375 * 100)
    // zero budget: nothing allocated
    val zero = run(0L)
    assert(zero("a") === ((0L, 0.0, 0.0)) && zero("b") === ((0L, 0.0, 0.0)))
    // weight tie: source name breaks it (a's epoch fills before b's)
    val tied = Seq(("a", 100L, new java.math.BigDecimal("0.2000")),
        ("b", 100L, new java.math.BigDecimal("0.2000")))
      .toDF("source", "u", "weight")
    val t = Curation.epochAllocate(tied, "source", "u", "weight", 150L,
        maxEpochs = 2, decay = new java.math.BigDecimal("0.5"))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(t("a") === 100L && t("b") === 50L)
  }

  test("knBigramNll: hand-computed interpolated KN; unseen context backs off to continuation; short docs keep=false") {
    // reference "a b a b c": bigram types ab(cab=2) ba(1) bc(1) → N1+(··)=3;
    // contexts a(ca=2, N1+f=1) b(ca=2, N1+f=2); continuation counts
    // N1+(·,a)=1 N1+(·,b)=1 N1+(·,c)=1; V=3 → pcont(x) = (n1b+1)/7
    val ref = Seq(Tuple1("a b a b c")).toDF("text")
    val docs = Seq(
      (1L, "a b c"),      // ab seen(2), bc seen(1) — the discounted path
      (2L, "z z"),        // unseen context AND successor → pcont(unk) = 1/7
      (3L, "a"),          // no bigram
      (4L, "c a"),        // c in vocab but never a context → backoff to pcont(a)
      (5L, "b z")         // seen context, unseen successor → pure interpolation mass
    ).toDF("doc_id", "text")
    val got = TextAnalysis.knBigramNll(docs, "doc_id", "text", ref, "text",
        discount = 0.75, threshold = 1.1)
      .collect().map(r => r.getLong(0) -> r).toMap
    def pcont(n1b: Long): Double = (n1b + 1.0) / 7.0
    def pkn(cab: Long, ca: Long, n1f: Long, pc: Double): Double =
      (math.max(cab - 0.75, 0.0) + 0.75 * n1f * pc) / ca
    def nll(p: Double): Double =
      BigDecimal(-math.log(p)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def avg(xs: Double*): Double =
      BigDecimal(xs.sum / xs.size).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L).getAs[Double]("avg_nll") ===
      avg(nll(pkn(2, 2, 1, pcont(1))), nll(pkn(1, 2, 2, pcont(1)))))
    assert(got(2L).getAs[Double]("avg_nll") === avg(nll(pcont(0))))
    assert(got(3L).getAs[Long]("n_bigrams") === 0L)
    assert(got(3L).isNullAt(got(3L).fieldIndex("avg_nll")))
    assert(!got(3L).getAs[Boolean]("keep"), "no-bigram docs must not pass the gate")
    assert(got(4L).getAs[Double]("avg_nll") === avg(nll(pcont(1))))
    assert(got(5L).getAs[Double]("avg_nll") === avg(nll(pkn(0, 2, 2, pcont(0)))))
    // seen bigrams must score better than interpolation-only mass
    assert(got(1L).getAs[Double]("avg_nll") < got(5L).getAs[Double]("avg_nll"))
    assert(got(1L).getAs[Boolean]("keep"))
    assert(!got(2L).getAs[Boolean]("keep"))
  }

  test("zipfFit: perfect power law recovers slope and r2=1; degenerate sources yield NULL fits") {
    // freq = round(1000 / rank): an exact Zipf sample up to rounding
    val zipf = (1 to 20).flatMap { r =>
      val f = math.max(1, math.round(1000.0 / r).toInt)
      Seq.fill(f)(s"w$r")
    }.mkString(" ")
    val docs = Seq(
      ("zipf", zipf),
      ("flat", "x1 x2 x3 x4 x5"),            // every freq 1 < minCount → n_fit 0
      ("const", "y1 y1 y2 y2 y3 y3")         // all freq 2 → zero y-variance → r2 NULL
    ).toDF("source", "text")
    val got = TextAnalysis.zipfFit(docs, "source", "text", topR = 100,
        minCount = 2L)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val z = got("zipf")
    assert(z.getAs[Long]("n_fit") === 20L)
    assert(math.abs(z.getAs[Double]("slope") + 1.0) < 0.02,
      s"Zipf slope ${z.getAs[Double]("slope")} should be ≈ -1")
    assert(z.getAs[Double]("r2") > 0.999)
    val f = got("flat")
    assert(f.getAs[Long]("n_types") === 5L && f.getAs[Long]("n_fit") === 0L)
    assert(f.isNullAt(f.fieldIndex("slope")))
    val c = got("const")
    assert(c.getAs[Long]("n_fit") === 3L)
    assert(!c.isNullAt(c.fieldIndex("slope"))) // x varies, slope defined (0.0)
    assert(c.getAs[Double]("slope") === 0.0)
    assert(c.isNullAt(c.fieldIndex("r2")), "zero y-variance must NULL r2")
  }

  test("temperatureMixDocs: kept rows re-derive temperatureMix's accounting; salt decorrelates the draw") {
    val docs = Tables.documents(spark, sf0001)
    // unsalted doc-level keep ≡ the audit rollup's kept_docs/kept_tokens
    val audit = Curation.temperatureMix(docs, "source", "doc_id", "text",
      alpha = 0.5, tokenBudget = 3000L)
      .select("source", "kept_docs").as[(String, Long)].collect().toMap
    val kept = Curation.temperatureMixDocs(docs, "source", "doc_id", "text",
      alpha = 0.5, tokenBudget = 3000L)
    assert(kept.columns.toSeq === docs.columns.toSeq) // original schema back
    val byize = kept.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    audit.foreach { case (src, n) =>
      assert(byize.getOrElse(src, 0L) === n, s"$src doc accounting") }
    // salted draw: same per-source plan (thresholds depend only on
    // masses), different kept SET — and the salted set is NOT the
    // unsalted one restricted/extended per source
    val salted = Curation.temperatureMixDocs(docs, "source", "doc_id",
      "text", alpha = 0.5, tokenBudget = 3000L, bucketSalt = "mix#")
    val a = kept.select("doc_id").as[Long].collect().toSet
    val b = salted.select("doc_id").as[Long].collect().toSet
    assert(a !== b, "salting must change the deterministic draw")
    assert(b.nonEmpty)
  }

  test("plan contracts: decontaminate broadcasts the benchmark; packing shuffles once") {
    val docs = Tables.documents(spark, sf0001)
    val decon = TextAnalysis.decontaminate(
        docs.filter(col("doc_id") >= 5), "doc_id", "text",
        docs.filter(col("doc_id") < 5), "text", n = 3)
      .queryExecution.executedPlan.toString
    // the benchmark gram set must travel as a broadcast, never shuffle
    // the corpus side for candidate generation
    assert(decon.contains("BroadcastHashJoin"), decon)
    val pack = graft.functions.Curation.packSequences(
        docs.select(col("source"), col("doc_id"), lit(10L).as("t")),
        "source", "doc_id", "t", 100L)
      .queryExecution.executedPlan.toString
    // one hash exchange on the group key; the scan itself is narrow
    assert("Exchange hashpartitioning".r.findAllIn(pack).size === 1, pack)
    assert(!pack.contains("Window"), pack) // streaming scan, not a window
  }

  test("approx_count_distinct within HLL error of exact (qa01 contract)") {
    val li = Tables.lineitem(spark, sf0001)
    val exact = li.agg(countDistinct("l_orderkey")).as[Long].head()
    // rsd is a standard deviation, not a bound — use rsd=0.02, assert 3σ
    val approx = li.agg(approx_count_distinct(col("l_orderkey"), 0.02)).as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.06)
  }

  test("bigrams keep multiplicity; <2-token docs yield an empty list") {
    val bg = Seq("a b a b", "solo", "").toDF("t")
      .select(TextAnalysis.bigrams(col("t")).as("g")).as[Seq[String]].collect()
    assert(bg(0) === Seq("a b", "b a", "a b"))
    assert(bg(1) === Nil)
    assert(bg(2) === Nil)
  }

  test("unigramLogProb matches the hand-computed unigram model") {
    // corpus: doc0 = "a a b", doc1 = "b c" → N=5, freq a=2 b=2 c=1;
    // doc0 score = ln 2 − ln 5, doc1 = (ln 2)/2 − ln 5 (6 dp per-token)
    val df = Seq((0L, "a a b"), (1L, "b c")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(df, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(0L) === ((3L, -0.9163)))
    assert(out(1L) === ((2L, -1.2629)))
  }

  test("unigramLogProb and dsirWeights plan without cartesian blowups") {
    val docs = Tables.documents(spark, sf0001)
    val lpPlan = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // the only nested-loop allowed is the 1-row totals broadcast
    assert(!lpPlan.contains("CartesianProduct"), lpPlan)
    // plan-shape asserts go through the lazy builder: the public
    // operator checkpoints its result, which collapses explain to a
    // Scan ExistingRDD and would hide the join strategy
    val (dsirOut, docFeat, joined) = Curation.dsirWeightsPlan(docs,
      "doc_id", "text", docs.filter(col("lang") === "en"), "text", 1024)
    val dsirPlan = dsirOut.queryExecution.executedPlan.toString
    docFeat.unpersist(false)
    joined.unpersist(false)
    assert(!dsirPlan.contains("CartesianProduct"), dsirPlan)
    // the ≤buckets-row log-ratio table must reach the per-doc join as a
    // broadcast, never a shuffle of the doc-feature side
    assert(dsirPlan.contains("BroadcastHashJoin"), dsirPlan)
  }

  test("dsirWeights are invariant under input partitioning") {
    // guards the localCheckpoint + global-window formulation: a doc's
    // weight must be a pure function of the data, never of layout
    val docs = Tables.documents(spark, sf0001)
    def run(df: org.apache.spark.sql.DataFrame) =
      Curation.dsirWeights(df, "doc_id", "text",
          df.filter(col("lang") === "en"), "text")
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(run(docs) === run(docs.repartition(7, col("lang"))))
  }

  test("md5BucketBigrams kernel matches the HOF bigram + md5Bucket path") {
    import graft.functions.NativeExpressions
    val docs = Tables.documents(spark, sf0001).limit(100)
      .unionByName(Seq((9001L, "solo"), (9002L, "")).toDF("doc_id", "text"),
        allowMissingColumns = true)
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("doc_id", "b").count()
    val hof = counts(docs
      .select(col("doc_id"), explode(TextAnalysis.bigrams(col("text"))).as("g"))
      .select(col("doc_id"), NativeExpressions.md5Bucket(col("g"), 1024).as("b")))
    val nat = counts(docs.select(col("doc_id"),
      explode(NativeExpressions.md5BucketBigrams(col("text"), 1024)).as("b")))
    assert(hof.exceptAll(nat).count() === 0)
    assert(nat.exceptAll(hof).count() === 0)
  }

  test("wordpieceCount: greedy longest-match with UNK fallback") {
    import graft.functions.NativeExpressions
    val vocab = Seq("ab", "abc", "d", "xyz")
    val n = Seq("abcd abx", "", "zz").toDF("t")
      .select(NativeExpressions.wordpieceCount(col("t"), vocab).as("n"))
      .as[Long].collect().toSeq
    // "abcd" → abc+d = 2; "abx" → ab+UNK = 2; "" → 0; "zz" → UNK+UNK = 2
    assert(n === Seq(4L, 0L, 2L))
  }

  test("corpusDatacard (qd40): per-source rollup matches hand computation") {
    val docs = Seq(
      (1L, "the cat sat on the mat", "webA"),
      (2L, "the cat sat on the mat", "webA"), // exact dup of 1
      (3L, "le chat et la souris des une", "webA"), // fr, no en stopwords
      (4L, "alpha beta gamma", "webB")) // und
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.corpusDatacard(docs, "text", "source")
      .as[(String, Long, Long, Double, Double, Double, Double)].collect()
    assert(got.length === 2)
    val (a, b) = (got(0), got(1))
    // webA: 3 docs, 6+6+7 tokens; stopword ratios 2/6, 2/6, 0 → mean
    // 0.2222 (of the 4-dp rounded values); en/en/fr → en_frac 2/3;
    // 2 distinct hashes of 3 docs → dup_frac 1/3
    assert(a === (("webA", 3L, 19L, 6.3333, 0.2222, 0.6667, 0.3333)), s"got $a")
    assert(b === (("webB", 1L, 3L, 3.0, 0.0, 0.0, 0.0)), s"got $b")
  }

  test("curriculumBuckets (qd42): hand-computed quartiles, ntile sizing, order-free means") {
    // 8 docs in one source with scores 1..8 (4-dp precision) → ntile(4)
    // puts exactly 2 per bucket in score order; means are midpoints
    val docs = (1L to 8L).map(i => (i, "s0", i.toDouble)).toDF("doc_id", "source", "score")
    val got = Curation.curriculumBuckets(docs, "source", "doc_id", "score", nBuckets = 4)
      .as[(String, Int, Long, Double)].collect()
    assert(got.toSeq === Seq(
      ("s0", 1, 2L, 1.5), ("s0", 2, 2L, 3.5), ("s0", 3, 2L, 5.5), ("s0", 4, 2L, 7.5)))
    // non-divisible group: ntile fronts the larger buckets (5 docs → 2,1,1,1)
    val odd = (1L to 5L).map(i => (i, "s1", i.toDouble)).toDF("doc_id", "source", "score")
    val sizes = Curation.curriculumBuckets(odd, "source", "doc_id", "score", nBuckets = 4)
      .as[(String, Int, Long, Double)].collect().map(r => (r._2, r._3)).toSeq
    assert(sizes === Seq((1, 2L), (2, 1L), (3, 1L), (4, 1L)))
  }

  test("dsirWeights separate target-like from off-target docs") {
    val docs = Seq(
      (0L, "the cat sat on the mat", "en"),
      (1L, "the dog sat on the rug", "en"),
      (2L, "der hund sitzt auf dem teppich", "de"),
      (3L, "die katze sitzt auf der matte", "de"),
      (4L, "x", "de")).toDF("doc_id", "text", "lang")
    val w = Curation.dsirWeights(docs, "doc_id", "text",
        docs.filter(col("lang") === "en"), "text")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // target members score above every off-target doc
    assert(w(0L)._2 > w(2L)._2 && w(0L)._2 > w(3L)._2)
    assert(w(1L)._2 > w(2L)._2 && w(1L)._2 > w(3L)._2)
    // a 1-token doc has no bigram features: weight 0, n_feat 0
    assert(w(4L) === ((0L, 0.0)))
  }

  test("assignShards is a pure function of the id — stable across partitionings") {
    val docs = Tables.documents(spark, sf0001)
    def shards(df: org.apache.spark.sql.DataFrame) =
      Curation.assignShards(df, "doc_id", 8)
        .select("doc_id", "shard_id").as[(Long, Int)].collect().toMap
    val a = shards(docs)
    val b = shards(docs.repartition(13))
    assert(a === b)
    assert(a.values.forall(s => s >= 0 && s < 8))
    // uniform in expectation: every shard populated at 500 docs / 8 shards
    assert(a.values.toSet.size === 8)
  }

  test("writeShards: partitioned layout, manifest agreement, hash order, file caps") {
    val docs = Tables.documents(spark, sf0001)
    val dir = tmpDir("graft-shards")
    Curation.writeShards(docs, dir, "doc_id", nShards = 8,
      maxRecordsPerFile = 25L)
    // layout: shard_id=N directories, ids in [0, 8)
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard_id=")).map(_.getName).sorted
    assert(dirs.nonEmpty && dirs.forall { n =>
      val id = n.stripPrefix("shard_id=").toInt; id >= 0 && id < 8
    })
    // re-read: same rows, shard column matches assignShards, manifest agrees
    val back = spark.read.parquet(dir)
    assert(back.count() === docs.count())
    val expected = Curation.assignShards(docs, "doc_id", 8)
      .select("doc_id", "shard_id").as[(Long, Int)].collect().toMap
    val got = back.select(col("doc_id"), col("shard_id").cast("int"))
      .as[(Long, Int)].collect().toMap
    assert(got === expected)
    val manifest = Curation.shardManifest(docs, "doc_id", "text", 8)
      .select("shard_id", "n_docs").as[(Int, Long)].collect().toMap
    val perShard = back.groupBy(col("shard_id").cast("int").as("s"))
      .count().as[(Int, Long)].collect().toMap
    assert(perShard === manifest)
    // every physical file respects the record cap AND holds a contiguous
    // run of the within-shard hash order (deterministic export layout)
    val shard0 = new java.io.File(dir, s"${dirs.head}").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(shard0.nonEmpty)
    shard0.foreach { f =>
      val rows = spark.read.parquet(f.getAbsolutePath)
        .select("doc_id").as[Long].collect()
      assert(rows.length <= 25)
      val hashes = rows.map(id =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes).map("%02x".format(_)).mkString)
      assert(hashes.sameElements(hashes.sorted), s"file ${f.getName} out of order")
    }
  }

  test("normalizeText: decomposed == composed, idempotent, ASCII untouched, whitespace collapsed") {
    import org.apache.spark.sql.functions._
    val rows = Seq(
      ("decomposed", "Cafe\u0301  LATTE"),   // e + combining acute
      ("composed", "Caf\u00e9  LATTE"),      // precomposed e-acute
      ("ascii", "plain ascii text"),
      ("messy", "  a\t b\n  c "),
      // tabs/newlines AT the string edges: Spark/DuckDB trim strips only
      // spaces, so collapse must run before trim or these keep a stray
      // leading/trailing space and hash apart from the bare form
      ("edge_nl", "doc\n"),
      ("edge_tab", "\tdoc"),
      ("edge_bare", "doc")
    ).toDF("k", "text")
    val out = rows
      .select(col("k"), graft.functions.TextAnalysis.normalizeText(col("text")).as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // the whole point: byte-identical canonical forms
    assert(out("decomposed") === out("composed"), s"${out.mkString(",")}")
    assert(out("decomposed") === "caf\u00e9 latte")
    assert(out("ascii") === "plain ascii text")
    assert(out("messy") === "a b c")
    // trailing-newline / leading-tab variants collapse onto the bare form
    assert(out("edge_nl") === "doc")
    assert(out("edge_tab") === "doc")
    assert(out("edge_bare") === "doc")
    // idempotent: normalizing a normalized frame changes nothing
    val once = rows.select(col("k"),
      graft.functions.TextAnalysis.normalizeText(col("text")).as("text"))
    val twice = once.select(col("k"),
      graft.functions.TextAnalysis.normalizeText(col("text")).as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(twice === out)
    // and it feeds dedup as designed: the two spellings now hash together
    val sig = once.select(
      graft.functions.NativeExpressions.simhash64(col("text")).as("h"))
      .where(col("k").isin("decomposed", "composed"))
      .collect().map(_.getLong(0)).toSet
    assert(sig.size === 1, "normalized spellings still hash apart")
  }

  test("deflateRatio: repetition compresses far below prose; bounded, deterministic, partitioning-invariant") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      ("template", "lorem ipsum " * 200),
      ("prose", (0 until 200).map(i => s"w${i * 7919 % 9973}x${i}").mkString(" ")),
      ("empty", "")
    ).toDF("k", "text")
    def ratios(df: org.apache.spark.sql.DataFrame): Map[String, Double] = df
      .select(col("k"),
        graft.functions.NativeExpressions.deflateRatio(col("text")).as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val r = ratios(docs)
    assert(r.values.forall(x => x > 0.0 && x <= 1.5), r.toString)
    assert(r("empty") === 1.0)
    // the signal: heavy repetition compresses at least 5x better
    assert(r("template") * 5 < r("prose"), r.toString)
    // deterministic across partitionings (fixed level, pure function)
    assert(ratios(docs.repartition(3)) === r)
  }

  // ----------------------------------------------- min-k% prob (qd54)

  private def r(x: Double, dp: Int): Double =
    BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("minKProb (qd54): hand-computed boundary-straddling selection") {
    // corpus freqs: x:3, y:2, z:4, N=9. doc 1 = x x x y z, kFrac=0.4 →
    // k=2: take y (cnt 1, ln2) fully + ONE of the three x occurrences
    // (ln3) — the boundary split inside the x group
    val docs = Seq((1L, "x x x y z"), (2L, "y z z z")).toDF("doc_id", "text")
    val got = TextAnalysis.minKProb(docs, "doc_id", "text", kFrac = 0.4)
      .as[(Long, Long, Long, Double)].collect().map(r0 => r0._1 -> r0).toMap
    val exp1 = r((r(math.log(2), 6) + r(math.log(3), 6)) / 2.0 - math.log(9.0), 4)
    assert(got(1L) === ((1L, 5L, 2L, exp1)))
    // doc 2 = y z z z, k=ceil(1.6)=2: y(ln2) + one z(ln4)
    val exp2 = r((r(math.log(2), 6) + r(math.log(4), 6)) / 2.0 - math.log(9.0), 4)
    assert(got(2L) === ((2L, 4L, 2L, exp2)))
  }

  test("minKProb: kFrac = 1 reproduces unigramLogProb exactly; min-k never exceeds the full mean") {
    val docs = Tables.documents(spark, sf0001)
    val full = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    val k1 = TextAnalysis.minKProb(docs, "doc_id", "text", kFrac = 1.0)
      .as[(Long, Long, Long, Double)].collect()
    k1.foreach { case (id, n, k, score) =>
      assert(n === full(id)._2 && k === n, s"doc $id k/n")
      assert(score === full(id)._3, s"doc $id full-k score")
    }
    val k20 = TextAnalysis.minKProb(docs, "doc_id", "text", kFrac = 0.2)
      .as[(Long, Long, Long, Double)].collect()
    k20.foreach { case (id, _, _, score) =>
      // the lowest-20% mean cannot exceed the full mean (+rounding slack)
      assert(score <= full(id)._3 + 1e-3, s"doc $id min-k above mean")
    }
  }

  // ------------------------------------------ n-gram diversity (qd55)

  test("sourceNgramDiversity (qd55): hand-computed entropy; constant template scores zero") {
    val docs = Seq(
      ("A", 1L, "a b a b a b"),   // bigrams: ab×3, ba×2 → H = −Σ p ln p
      ("B", 2L, "x x x x x x"))   // one distinct bigram → H = 0, norm 0
      .toDF("source", "doc_id", "text")
    val got = TextAnalysis.sourceNgramDiversity(docs, "source", "text", n = 2)
      .as[(String, Long, Long, Double, Double)].collect().map(x => x._1 -> x).toMap
    def term(p: Double): BigDecimal =
      BigDecimal(-p * math.log(p)).setScale(10, BigDecimal.RoundingMode.HALF_UP)
    val h = (term(3.0 / 5.0) + term(2.0 / 5.0)).toDouble
    assert(got("A") === (("A", 5L, 2L, r(h, 6), r(h / math.log(2.0), 6))))
    assert(got("B") === (("B", 5L, 1L, 0.0, 0.0)))
  }

  test("sourceNgramDiversity: evener distributions score strictly higher; fixture norms in [0,1]") {
    val docs = Seq(
      ("even", 1L, "a b c d a b c d"),     // near-uniform bigram mass
      ("skew", 2L, "a b a b a b a z"))     // mass concentrated on 'a b'
      .toDF("source", "doc_id", "text")
    val got = TextAnalysis.sourceNgramDiversity(docs, "source", "text", n = 2)
      .as[(String, Long, Long, Double, Double)].collect().map(x => x._1 -> x._5).toMap
    assert(got("even") > got("skew"), got.toString)
    val fix = TextAnalysis.sourceNgramDiversity(
        Tables.documents(spark, sf0001), "source", "text", n = 2)
      .as[(String, Long, Long, Double, Double)].collect()
    assert(fix.nonEmpty)
    fix.foreach { x =>
      assert(x._5 >= 0.0 && x._5 <= 1.0, s"norm out of range: $x")
      assert(x._4 >= 0.0 && x._2 >= x._3, s"inconsistent counts: $x")
    }
  }

  // ----------------------------------------------- collocations (qd60)

  test("collocations (qd60): hand-computed PMI, tie-break, minCount floor, topK cut") {
    val docs = Seq((1L, "a b a b a b"), (2L, "c d c d c d"))
      .toDF("doc_id", "text")
    // T=12 tokens, B=10 bigrams; 'a b' ×3, 'b a' ×2, 'c d' ×3, 'd c' ×2
    val got = TextAnalysis.collocations(docs, "text", minCount = 2L, topK = 10)
      .as[(String, Long, Long, Long, Double)].collect()
    def pmi(cab: Long): Double =
      r(math.log((cab / 10.0) / ((3.0 / 12.0) * (3.0 / 12.0))), 6)
    assert(got.toSeq === Seq(
      ("a b", 3L, 3L, 3L, pmi(3)), ("c d", 3L, 3L, 3L, pmi(3)),
      ("b a", 2L, 3L, 3L, pmi(2)), ("d c", 2L, 3L, 3L, pmi(2))))
    // minCount floor: raise it and the ×2 pairs vanish
    assert(TextAnalysis.collocations(docs, "text", minCount = 3L, topK = 10)
      .count() === 2L)
    // topK cut respects the (pmi desc, bigram asc) order
    assert(TextAnalysis.collocations(docs, "text", minCount = 2L, topK = 2)
      .as[(String, Long, Long, Long, Double)].collect().map(_._1).toSeq ===
      Seq("a b", "c d"))
  }

  test("collocations on the fixture: exactly topK rows, finite PMI, floors hold") {
    val got = TextAnalysis.collocations(
        Tables.documents(spark, sf0001), "text", minCount = 5L, topK = 50)
      .as[(String, Long, Long, Long, Double)].collect()
    assert(got.length === 50)
    got.foreach { r0 =>
      assert(r0._2 >= 5L && r0._3 >= r0._2 && r0._4 >= r0._2, s"counts: $r0")
      assert(!r0._5.isNaN && !r0._5.isInfinite, s"pmi: $r0")
    }
    val ps = got.map(_._5)
    assert(ps.zip(ps.tail).forall { case (x, y) => x >= y }, "not pmi-sorted")
  }

  // ----------------------------------------------- winsorization (qd58)

  test("winsorizeTokenCounts (qd58): hand-computed interpolated cut, clip and flag") {
    // source A token counts 10/20/30/40/100: p=0.5 → cut 30; p=0.6 →
    // interpolated 30 + 0.4·10 = 34 (quantile_cont semantics)
    val docs = Seq((1L, 10), (2L, 20), (3L, 30), (4L, 40), (5L, 100))
      .map { case (i, n) => ("A", i, Seq.fill(n)("t").mkString(" ")) }
      .toDF("source", "doc_id", "text")
    val got = Curation.winsorizeTokenCounts(docs, "source", "doc_id", "text", p = 0.5)
      .as[(Long, String, Long, Double, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(3L)._4 === 30.0 && got(3L)._6 === 30L && !got(3L)._7)
    assert(got(4L) === ((4L, "A", 40L, 30.0, 30L, 30L, true)))
    assert(got(5L)._6 === 30L && got(5L)._7)
    assert(got(1L)._6 === 10L && !got(1L)._7)
    val cut6 = Curation.winsorizeTokenCounts(docs, "source", "doc_id", "text", p = 0.6)
      .select(col("p_cut")).distinct().as[Double].collect()
    assert(cut6.toSeq === Seq(34.0))
  }

  test("winsorizeTokenCounts: every doc emitted once, flags non-vacuous, p guarded") {
    val docs = Tables.documents(spark, sf0001)
    val out = Curation.winsorizeTokenCounts(docs, "source", "doc_id", "text", p = 0.9)
      .as[(Long, String, Long, Double, Long, Long, Boolean)].collect()
    assert(out.length.toLong === docs.count())
    assert(out.count(_._7) > 0, "no clipped docs at p90 — vacuous fixture")
    out.foreach { r =>
      assert(r._6 === math.min(r._3, r._5), s"clip arithmetic: $r")
      assert(r._7 === (r._3 > r._5), s"flag: $r")
    }
    intercept[IllegalArgumentException] {
      Curation.winsorizeTokenCounts(docs, "source", "doc_id", "text", p = 1.0)
    }
  }

  // ----------------------------------------------- corpus diff (qd52)

  test("corpusDiff (qd52): every status on a hand fixture; summary agrees") {
    val old = Seq((1L, "gone doc"), (2L, "same doc"), (3L, "edit me"))
      .toDF("doc_id", "text")
    val v2 = Seq((2L, "same doc"), (3L, "edited now"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val diff = Curation.corpusDiff(old, v2, "doc_id", "text")
    val got = diff.select(col("doc_id"), col("status"))
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
    val sums = Curation.corpusDiffSummary(diff)
      .as[(String, Long)].collect().toMap
    assert(sums === Map("removed" -> 1L, "unchanged" -> 1L,
      "changed" -> 1L, "added" -> 1L))
  }

  test("corpusDiff: cosmetic whitespace/case variants are NOT changes") {
    val old = Seq((1L, "Caf\u00e9  du   Monde"), (2L, "plain text"))
      .toDF("doc_id", "text")
    // different case, messy whitespace, trailing newline — same canon
    // (fingerprint normalizes case + whitespace; NFC canon is qd48's
    // normalizeText, deliberately not part of the fingerprint default)
    val v2 = Seq((1L, "caf\u00e9 du monde\n"), (2L, "plain text"))
      .toDF("doc_id", "text")
    val got = Curation.corpusDiff(old, v2, "doc_id", "text")
      .select(col("doc_id"), col("status")).as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "unchanged", 2L -> "unchanged"))
  }

  test("corpusDiff: null text is a present empty doc, not a phantom add/remove") {
    val old = Seq((1L, Option.empty[String]), (2L, Some("kept")))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, Some("")), (2L, Some("kept"))).toDF("doc_id", "text")
    val got = Curation.corpusDiff(old, v2, "doc_id", "text")
      .select(col("doc_id"), col("status")).as[(Long, String)].collect().toMap
    // null folds to the empty-text fingerprint → unchanged, and never
    // misreads presence
    assert(got === Map(1L -> "unchanged", 2L -> "unchanged"))
  }

  test("corpusDiff: identical snapshots diff to all-unchanged on the fixture corpus") {
    val docs = Tables.documents(spark, sf0001)
    val sums = Curation.corpusDiffSummary(
        Curation.corpusDiff(docs, docs, "doc_id", "text"))
      .as[(String, Long)].collect().toMap
    assert(sums === Map("unchanged" -> docs.count()))
  }
}
