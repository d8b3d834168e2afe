package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.functions.{Dedup, NativeExpressions}
import graft.ops.F1Ops

/** Property-based invariants (SURVEY.md §5.3): the points function's
  * codomain, permutation-invariance of standings aggregates, dedup
  * idempotence, jaccard bounds/symmetry, simhash locality symmetry.
  * ScalaCheck generators sampled driver-side, evaluated in Spark batches.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val ValidPoints = Set(0, 1, 2, 4, 6, 8, 10, 12, 15, 18, 25)

  test("portable minhash native/HOF parity holds on arbitrary unicode docs") {
    // unicode matters: the native kernel tokenizes at the byte level
    // (ASCII whitespace bytes never occur inside multi-byte UTF-8) while
    // the HOF spec splits with the \s+ regex — parity must survive
    // non-ASCII text, exotic whitespace neighbors, and empty docs
    val token = Gen.oneOf(
      Gen.alphaNumStr.suchThat(_.nonEmpty),
      Gen.oneOf("héllo", "日本語", "Ωmega", "naïve", "🙂", "a b", "x,y."))
    val doc = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, token))
      .map(_.mkString(" "))
    val docs = Gen.listOfN(120, doc).sample.get
    val k = 6
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val cols = col("doc_id") +: (0 until k).map(j => col(s"mh$j"))
    val native = Dedup.withMinHash(df, "text", k, shingleN = 2, portable = true)
      .select(cols: _*).orderBy("doc_id").collect().map(_.toSeq)
    val hof = Dedup.withMinHashPortableHOF(df, "text", k, shingleN = 2)
      .select(cols: _*).orderBy("doc_id").collect().map(_.toSeq)
    assert(native.toSeq === hof.toSeq)
  }

  test("chunkDocs covers every token exactly: strided prefixes + overlap reconstruct") {
    import graft.functions.TextAnalysis
    val doc = Gen.choose(1, 150)
      .map(n => (1 to n).map(i => s"w$i").mkString(" "))
    val docs = Gen.listOfN(40, doc).sample.get
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val (ct, ov) = (16, 4)
    val chunks = TextAnalysis.chunkDocs(df, "doc_id", "text", ct, ov)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    docs.zipWithIndex.foreach { case (text, i) =>
      val toks = text.split(" ")
      val got = chunks(i.toLong)
      // dropping each chunk's leading `overlap` tokens (except the first)
      // and concatenating reconstructs the doc exactly — no token lost,
      // none duplicated beyond the declared overlap
      val rebuilt = got.head.split(" ").toSeq ++
        got.tail.flatMap(_.split(" ").drop(ov).toSeq)
      assert(rebuilt === toks.toSeq, s"doc $i")
    }
  }

  test("pointsLadder codomain is exactly the F1 scoring set for ANY position") {
    val positions = Gen.listOfN(200,
      Gen.oneOf(Gen.choose(-5, 30), Gen.const(Int.MaxValue))).sample.get
    val got = positions.toDF("position")
      .select(F1Ops.pointsLadder(col("position")).as("p")).as[Int].collect()
    assert(got.forall(ValidPoints.contains))
  }

  test("standings totals are invariant under row permutation") {
    val rows = Gen.listOfN(120, for {
      drv <- Gen.oneOf("1", "11", "44", "16", "55")
      pos <- Gen.choose(1, 20)
    } yield (drv, pos)).sample.get
    def totals(rs: Seq[(String, Int)]) =
      rs.toDF("driver_number", "position")
        .withColumn("points", F1Ops.pointsLadder(col("position")))
        .groupBy("driver_number").agg(sum("points").as("pts"))
        .orderBy("driver_number").as[(String, Long)].collect().toSeq
    val shuffled = scala.util.Random.shuffle(rows)
    assert(totals(rows) === totals(shuffled))
  }

  test("firstWinsDedup is idempotent and keeps exactly one row per key") {
    val rows = Gen.listOfN(150, for {
      k <- Gen.choose(0, 20)
      v <- Gen.choose(0, 1000)
    } yield (k.toLong, v.toLong)).sample.get
    val df = rows.toDF("k", "v")
    val once = F1Ops.firstWinsDedup(df, Seq("k"), Seq(col("v"), col("k")))
    val twice = F1Ops.firstWinsDedup(once, Seq("k"), Seq(col("v"), col("k")))
    assert(once.count() === df.select("k").distinct().count())
    assert(once.orderBy("k", "v").collect().toSeq ===
      twice.orderBy("k", "v").collect().toSeq)
  }

  private val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa")
  private val docGen: Gen[String] = Gen.chooseNum(4, 30)
    .flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))

  test("jaccard ∈ [0,1], symmetric, and 1 iff same shingle set") {
    val docs = Gen.listOfN(12, docGen).sample.get.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val sh = docs.select(col("id"), Dedup.wordShingles(col("text"), 2).as("g"))
    val pairs = sh.as("a").crossJoin(sh.as("b"))
      .select(
        Dedup.jaccard(col("a.g"), col("b.g")).as("jab"),
        Dedup.jaccard(col("b.g"), col("a.g")).as("jba"),
        (col("a.id") === col("b.id")).as("same"))
      .as[(Double, Double, Boolean)].collect()
    assert(pairs.forall { case (jab, _, _) => jab >= 0.0 && jab <= 1.0 })
    assert(pairs.forall { case (jab, jba, _) => jab == jba })
    assert(pairs.forall { case (jab, _, same) => !same || jab == 1.0 })
  }

  test("simhash hamming distance is a symmetric premetric bounded by 64") {
    val docs = Gen.listOfN(10, docGen).sample.get.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val sig = docs.select(col("id"), Dedup.simHash64("text").as("s"))
    val h = sig.as("a").crossJoin(sig.as("b"))
      .select(col("a.id"), col("b.id"),
        Dedup.hamming64(col("a.s"), col("b.s")).as("h"),
        Dedup.hamming64(col("b.s"), col("a.s")).as("h2"),
        (col("a.id") === col("b.id")).as("same"))
      .as[(Long, Long, Int, Int, Boolean)].collect()
    assert(h.forall { case (_, _, d, d2, _) => d == d2 && d >= 0 && d <= 64 })
    assert(h.forall { case (_, _, d, _, same) => !same || d == 0 })
  }

  test("asOfJoin equals driver-side brute force on random series") {
    val gen = for {
      key <- Gen.oneOf("A", "B", "C")
      ts <- Gen.choose(0L, 50L)
      v <- Gen.choose(0L, 999L)
    } yield (key, ts, v)
    val rights = Gen.listOfN(60, gen).sample.get
      // dedup (key, ts) so the tie winner is unambiguous on both paths
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
    val lefts = Gen.listOfN(40, gen).sample.get
    val got = graft.ops.TimeSeriesOps.asOfJoin(
        lefts.toDF("k", "lts", "lv"), rights.toDF("k", "rts", "rv"),
        Seq("k"), "lts", "rts", rightPayload = Seq("rts", "rv"))
      .select("k", "lts", "lv", "asof_rts", "asof_rv")
      .as[(String, Long, Long, Long, Long)].collect()
      .groupBy(r => (r._1, r._2, r._3)).view.mapValues(_.map(x => (x._4, x._5)).toSet).toMap
    val brute = lefts.flatMap { case (k, lts, lv) =>
      rights.filter(r => r._1 == k && r._2 <= lts)
        .sortBy(r => (r._2, r._3)).lastOption
        .map(r => (k, lts, lv) -> (r._2, r._3))
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got === brute)
  }

  test("TopK aggregator result is invariant under input permutation and partitioning") {
    import graft.functions.TopKAgg
    val rows = Gen.listOfN(200, for {
      sk <- Gen.choose(0L, 5L)
      p <- Gen.choose(0, 100).map(_.toDouble)
      ok <- Gen.choose(0L, 10000L)
    } yield (sk, p, ok, 1L)).sample.get
    def run(rs: Seq[(Long, Double, Long, Long)], parts: Int) =
      rs.toDF("sk", "p", "ok", "ln").repartition(parts)
        .as[(Long, Double, Long, Long)]
        .map { case (sk, p, ok, ln) => sk -> TopKAgg.Item(p, ok, ln) }
        .groupByKey(_._1).mapValues(_._2)
        .agg(new TopKAgg.TopK(3).toColumn.name("top"))
        .collect().map { case (sk, buf) => sk -> buf.items }.toMap
    val a = run(rows, 1)
    val b = run(scala.util.Random.shuffle(rows), 7)
    assert(a === b)
  }

  test("packSequences invariants: bins under budget or singleton, ids consecutive") {
    import graft.functions.Curation
    val rows = Gen.listOfN(120, for {
      g <- Gen.oneOf("a", "b", "c")
      o <- Gen.choose(0L, 10000L)
      t <- Gen.choose(1L, 700L)
    } yield (g, o, t)).sample.get
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq // unique (group, order)
    val budget = 512L
    val got = Curation.packSequences(rows.toDF("g", "o", "t"), "g", "o", "t", budget)
      .select("g", "o", "t", "bin_id")
      .as[(String, Long, Long, Long)].collect()
    got.groupBy(_._1).foreach { case (g, rs) =>
      val byBin = rs.groupBy(_._4)
      byBin.foreach { case (bin, members) =>
        val total = members.map(_._3).sum
        assert(total <= budget || members.length == 1,
          s"group $g bin $bin over budget with ${members.length} members")
      }
      // bin ids are 0..maxBin with no gaps, and non-decreasing in order
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._4).toSeq.sliding(2).forall {
        case Seq(x, y) => y == x || y == x + 1
        case _ => true
      }, s"group $g bins not consecutive")
      assert(sorted.head._4 === 0L)
    }
  }

  test("scrubDuplicatedSpans invariants on random corpora: subset, accounting, distinct-identity") {
    // random docs over a small vocab so cross-doc span collisions occur;
    // ≥1 token because the empty doc tokenizes to [""] (size 1 — the
    // qd02-pinned convention) which this test's independent token
    // accounting would mis-model (DedupSpec pins that edge exactly)
    val token = Gen.oneOf("a", "b", "c", "d", "e")
    val doc = Gen.choose(1, 14).flatMap(m => Gen.listOfN(m, token))
      .map(_.mkString(" "))
    val docs = Gen.listOfN(60, doc).sample.get
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val orig = docs.select(col("doc_id"),
        split(trim(col("text")), "\\s+").as("w"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, w) => id -> w.filter(_.nonEmpty) }.toMap
    Dedup.scrubDuplicatedSpans(docs, "doc_id", "text", n = 3)
      .as[(Long, String, Long, Long)].collect().foreach {
        case (id, clean, nTok, nRemoved) =>
          val cleanToks = clean.split("\\s+").filter(_.nonEmpty)
          assert(nTok === orig(id).length.toLong)
          // accounting: removed + kept = all
          assert(nRemoved + cleanToks.length === nTok)
          // kept tokens are a subsequence of the original token stream
          val it = orig(id).iterator
          assert(cleanToks.forall(t => it.contains(t)),
            s"doc $id: '$clean' is not a subsequence of ${orig(id)}")
      }
    // corpus of globally UNIQUE docs (disjoint vocab per doc) → identity
    val uniq = (0 until 10).map(i =>
      (i.toLong, s"u${i}a u${i}b u${i}c u${i}d")).toDF("doc_id", "text")
    val out = Dedup.scrubDuplicatedSpans(uniq, "doc_id", "text", n = 2)
      .select("n_removed_tokens").as[Long].collect()
    assert(out.forall(_ === 0L))
  }

  test("intraDocDupNgramFraction ∈ [0,1]; verbatim self-repeat saturates to 1") {
    val token = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.choose(0, 12).flatMap(m => Gen.listOfN(m, token))
      .map(_.mkString(" "))
    val docs = Gen.listOfN(60, doc).sample.get
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    Dedup.intraDocDupNgramFraction(docs, "doc_id", "text", n = 2)
      .as[(Long, Long, Long, Double)].collect().foreach {
        case (id, nTok, covered, frac) =>
          assert(covered <= nTok, s"doc $id covers more than its tokens")
          assert(frac >= 0.0 && frac <= 1.0)
      }
    // "X X" (doc repeated verbatim): every n-gram of X occurs twice
    // for n ≤ |X|, so every token is covered
    val selfRep = Seq((0L, "p q r s p q r s")).toDF("doc_id", "text")
    val f = Dedup.intraDocDupNgramFraction(selfRep, "doc_id", "text", n = 3)
      .select("dup_ngram_frac").as[Double].head()
    assert(f === 1.0)
  }

  test("minhash signature equality probability tracks jaccard (planted check)") {
    // identical docs → identical signatures; disjoint docs → (overwhelmingly)
    // different signatures
    val df = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("id", "text")
    val sig = df.select(col("id"),
      NativeExpressions.minhashSig(col("text"), 16, 2).as("s"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sig(0L) === sig(1L))
    assert(sig(0L) !== sig(2L))
  }

  test("video metadata parse terminates fast and never throws on arbitrary bytes") {
    // the AVI ≥2³¹-chunk-size hang showed byte-walkers need a fuzz net,
    // not just the one planted regression case: random payloads — raw,
    // RIFF/AVI-headed, ftyp-headed (so both walkers actually engage),
    // and truncated real containers — must all return promptly, never
    // loop or escape the decode seam's exception contract
    import graft.multimodal.Multimodal
    val rnd = new scala.util.Random(42) // fixed seed — deterministic run
    def randBytes(n: Int): Array[Byte] = {
      val a = new Array[Byte](n); rnd.nextBytes(a); a
    }
    val avi = Multimodal.syntheticAvi(320, 240, 30, 90)
    val mp4 = Multimodal.syntheticMp4(640, 360, 1000, 5000L, 120L)
    val cases: Seq[Array[Byte]] =
      (0 until 200).map(_ => randBytes(rnd.nextInt(256))) ++
      (0 until 200).map { _ => // valid magic + random guts
        val b = randBytes(64 + rnd.nextInt(192))
        if (b.length >= 12) {
          System.arraycopy("RIFF".getBytes("US-ASCII"), 0, b, 0, 4)
          System.arraycopy("AVI ".getBytes("US-ASCII"), 0, b, 8, 4)
        }
        b
      } ++
      (0 until 200).map { _ =>
        val b = randBytes(64 + rnd.nextInt(192))
        System.arraycopy(mp4, 0, b, 0, math.min(12, b.length)) // ftyp magic
        b
      } ++
      (1 until avi.length).map(avi.take) ++ // every truncation of real containers
      (1 until mp4.length).map(mp4.take)
    val t0 = System.nanoTime()
    var threw = 0
    cases.foreach { bytes =>
      try assert(Multimodal.parseVideoMeta(bytes) != null)
      catch { case _: Exception => threw += 1 }
    }
    val sec = (System.nanoTime() - t0) / 1e9
    assert(threw === 0,
      s"$threw/${cases.length} fuzz cases threw — bounds guards regressed " +
        "(the decode seam would absorb these per-row, but the walkers' " +
        "contract is return-failed, not throw)")
    assert(sec < 10.0, f"fuzz sweep took $sec%.1f s — a walker is looping")
  }

  test("frame-chunk walkers terminate fast and never throw on arbitrary bytes (AVI + MP4)") {
    // the round-16 frame locators get the same fuzz net as the metadata
    // walkers: random payloads, magic-headed random guts, and every
    // truncation of REAL frame-carrying containers (where stsz/stco
    // tables exist but get cut mid-entry) must return a (possibly
    // empty) chunk list with in-bounds offsets — never throw, never loop
    import graft.multimodal.Multimodal
    val rnd = new scala.util.Random(1337)
    def randBytes(n: Int): Array[Byte] = {
      val a = new Array[Byte](n); rnd.nextBytes(a); a
    }
    val avi = Multimodal.syntheticMjpegAvi(16, 12, 10, Seq(8, 40, 136))
    val mp4 = Multimodal.syntheticMjpegMp4(16, 12, 600, 600, Seq(8, 40, 136))
    val cases: Seq[Array[Byte]] =
      (0 until 200).map(_ => randBytes(rnd.nextInt(256))) ++
      (0 until 200).map { _ =>
        val b = randBytes(64 + rnd.nextInt(192))
        System.arraycopy("RIFF".getBytes("US-ASCII"), 0, b, 0, 4)
        System.arraycopy("AVI ".getBytes("US-ASCII"), 0, b, 8, 4)
        b
      } ++
      (0 until 200).map { _ =>
        val b = randBytes(64 + rnd.nextInt(192))
        System.arraycopy(mp4, 0, b, 0, math.min(12, b.length))
        b
      } ++
      (1 until avi.length by 7).map(avi.take) ++
      (1 until mp4.length by 7).map(mp4.take)
    val t0 = System.nanoTime()
    var bad = 0
    cases.foreach { bytes =>
      try {
        for ((off, len) <- Multimodal.mjpegFrameChunks(bytes) ++
            Multimodal.mp4FrameChunks(bytes)) {
          assert(off >= 0 && len > 0 && off.toLong + len <= bytes.length,
            s"out-of-bounds chunk ($off, $len) for ${bytes.length} bytes")
        }
      } catch { case _: Exception => bad += 1 }
    }
    val sec = (System.nanoTime() - t0) / 1e9
    assert(bad === 0, s"$bad/${cases.length} fuzz cases threw or went out of bounds")
    assert(sec < 10.0, f"fuzz sweep took $sec%.1f s — a frame walker is looping")
  }

  test("bit-flip mutations of VALID containers keep every walker bounded and throw-free (AVI + MP4)") {
    // round-16 verdict stretch #8: the arbitrary-bytes net above rarely
    // survives the magic checks, so it exercises the OUTER guards;
    // flipping 1–4 bits in a VALID frame-carrying container lands in
    // the deeper states — half-valid headers, corrupted size fields,
    // sample tables whose counts/offsets lie — where a missing bounds
    // check would loop or throw past the seam's contract
    import graft.multimodal.Multimodal
    val rnd = new scala.util.Random(1717) // fixed seed — deterministic
    val avi = Multimodal.syntheticMjpegAvi(16, 12, 10, Seq(8, 40, 136))
    val mp4 = Multimodal.syntheticMjpegMp4(16, 12, 600, 600, Seq(8, 40, 136))
    def mutants(base: Array[Byte], n: Int): Seq[Array[Byte]] =
      (0 until n).map { _ =>
        val b = base.clone()
        (0 to rnd.nextInt(4)).foreach { _ =>
          val i = rnd.nextInt(b.length)
          b(i) = (b(i) ^ (1 << rnd.nextInt(8))).toByte
        }
        b
      }
    val cases = mutants(avi, 800) ++ mutants(mp4, 800)
    val t0 = System.nanoTime()
    var bad = 0
    cases.foreach { bytes =>
      try {
        assert(Multimodal.parseVideoMeta(bytes) != null)
        for ((off, len) <- Multimodal.mjpegFrameChunks(bytes) ++
            Multimodal.mp4FrameChunks(bytes)) {
          assert(off >= 0 && len > 0 && off.toLong + len <= bytes.length,
            s"out-of-bounds chunk ($off, $len) for ${bytes.length} bytes")
        }
      } catch { case _: Exception => bad += 1 }
    }
    val sec = (System.nanoTime() - t0) / 1e9
    assert(bad === 0, s"$bad/${cases.length} mutation cases threw or went out of bounds")
    assert(sec < 20.0, f"mutation sweep took $sec%.1f s — a walker is looping")
    // a sample of mutants through the full Dataset decode leg: rows
    // come back decode_ok true-or-false, tasks never fail
    val sample = (mutants(avi, 12) ++ mutants(mp4, 12)).zipWithIndex
      .map { case (b, i) =>
        Multimodal.MediaRow(i.toLong, "video", b, None, None, None, None) }
    val out = Multimodal.decodeVideoFrames(sample.toDS(), 4).collect()
    assert(out.nonEmpty) // every row yields at least a decode_ok=false stub
  }

  test("Misra-Gries bound survives arbitrary stream splits and merge orders (seeded fuzz)") {
    import graft.functions.HeavyHittersAgg._
    // the mergeable-summaries claim (Agarwal et al. 2012): however the
    // stream is partitioned and however the partial summaries are
    // merged, the combined sketch undercounts by at most n/(k+1) and
    // never overcounts — the exact property Spark's partial aggregation
    // and the streaming processor rely on
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { trial =>
      val k = 1 + rnd.nextInt(8)
      val vocab = 1 + rnd.nextInt(40)
      val n = 50 + rnd.nextInt(500)
      // zipf-ish skew: token id ~ floor(vocab * u^3)
      val stream = Seq.fill(n) {
        val u = rnd.nextDouble()
        s"t${(vocab * u * u * u).toInt}"
      }
      val truth = stream.groupBy(identity).view.mapValues(_.length.toLong).toMap
      // random split into 1..8 segments, each folded independently
      val nSeg = 1 + rnd.nextInt(8)
      val segs = stream.grouped(math.max(1, n / nSeg)).toIndexedSeq
      val partials = segs.map(_.foldLeft(Map.empty[String, Long])(
        (c, t) => reduceToken(c, t, k)))
      // merge in a random order
      val merged = rnd.shuffle(partials)
        .reduce((a, b) => mergeCounters(a, b, k))
      assert(merged.size <= k, s"trial $trial: ${merged.size} counters > k=$k")
      val bound = n.toDouble / (k + 1)
      merged.foreach { case (t, est) =>
        val tr = truth(t)
        assert(est <= tr, s"trial $trial: $t overcounted est=$est true=$tr")
        assert(tr - est <= bound + 1e-9,
          s"trial $trial: $t undercounted past n/(k+1)=$bound est=$est true=$tr")
      }
      truth.filter(_._2 > bound).keys.foreach { heavy =>
        assert(merged.contains(heavy),
          s"trial $trial: heavy $heavy (${truth(heavy)} > $bound) missing (k=$k, n=$n)")
      }
    }
  }

  test("normalizeText is idempotent and NFC-insensitive on arbitrary unicode docs") {
    import graft.functions.TextAnalysis
    val token = Gen.oneOf(
      Gen.alphaNumStr.suchThat(_.nonEmpty),
      // decomposed / precomposed pairs, exotic letters, emoji, digits
      Gen.oneOf("Cafe\u0301", "Caf\u00e9", "nai\u0308ve", "na\u00efve",
        "\u212b", "A\u030a", "\u00c5", "\u65e5\u672c\u8a9e", "\ud83d\ude42", "X9",
        // boundary whitespace: tabs/newlines at string edges exercise the
        // collapse-then-trim order (trim alone only strips spaces)
        "\tX", "X\n", "\nY\t"))
    val doc = Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, token))
      .map(_.mkString("  "))
    val docs = Gen.listOfN(150, doc).sample.get
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val once = df.select(col("doc_id"),
      TextAnalysis.normalizeText(col("text")).as("n1"))
    val twice = once.select(col("doc_id"),
      TextAnalysis.normalizeText(col("n1")).as("n2"), col("n1"))
    // idempotent on every sample
    twice.collect().foreach(r =>
      assert(r.getString(1) === r.getString(2), s"doc ${r.getLong(0)} not idempotent"))
    // NFC-insensitive: normalizing the NFD expansion of the text lands
    // on the same canonical form
    val nfd = docs.zipWithIndex.map { case (t, i) =>
      (i.toLong, java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFD))
    }.toDF("doc_id", "text")
    val a = once.orderBy("doc_id").collect().map(_.getString(1)).toSeq
    val b = nfd.select(col("doc_id"), TextAnalysis.normalizeText(col("text")).as("n"))
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    assert(a === b, "NFD-expanded input normalized differently")
  }

  test("inPartitionPairs ≡ naive membership on random pair sets; depth constant") {
    import graft.streaming.CorpusIngest
    def depth(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
      if (e.children.isEmpty) 1 else 1 + e.children.map(depth).max
    val pair = for { e <- Gen.choose(0L, 6L); b <- Gen.choose(0L, 6L) } yield (e, b)
    (1 to 8).foreach { trial =>
      val pairs = Gen.listOfN(1 + trial * 7, pair).sample.get.distinct
      val rows = Gen.listOfN(120, pair).sample.get
      val df = rows.toDF("epoch", "batch_id")
      val got = df.filter(CorpusIngest.inPartitionPairs(pairs))
        .as[(Long, Long)].collect().toSeq.sorted
      val want = rows.filter(pairs.toSet).sorted
      assert(got === want, s"trial $trial membership diverged")
      assert(depth(org.apache.spark.sql.GraftBridge.expression(
        CorpusIngest.inPartitionPairs(pairs))) <= 8, s"trial $trial depth grew")
    }
  }

  test("withRecallAtK: ∈ [0,1] on arbitrary approx lists; exact input always 1.0") {
    import graft.functions.Similarity
    val vec = Gen.listOfN(4, Gen.choose(-5.0, 5.0))
    val n = 40
    val rows = (0 until n).map(i => (i.toLong, vec.sample.get))
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 4)
    val exact = Similarity.knnJoin(queries, corpus, "vec_id", "embedding", k = 5)
    // exact-as-approx: identically 1.0
    val self = Similarity.withRecallAtK(exact, queries, corpus, "vec_id", "embedding", 5)
      .select("recall_at_k").as[Double].collect()
    assert(self.nonEmpty && self.forall(_ === 1.0))
    // an arbitrary (wrong) approx list: bounded, and 0 when disjoint
    // from the exact ids by construction (neighbor ids out of range)
    val junk = (0 until 4).flatMap(q => (1 to 5).map(r =>
      (q.toLong, 1000L + r, 0.5, r))).toDF("query_id", "neighbor_id", "cosine", "rank")
    val rj = Similarity.withRecallAtK(junk, queries, corpus, "vec_id", "embedding", 5)
      .select("recall_at_k").as[Double].collect()
    assert(rj.forall(_ === 0.0), rj.mkString(","))
  }

  test("VecMean stays within per-coordinate min/max bounds and matches driver mean on random groups") {
    import graft.functions.Clustering
    val vec = Gen.listOfN(6, Gen.choose(-1000.0, 1000.0))
    val row = for { g <- Gen.choose(0, 4); v <- vec } yield (g, v)
    val rows = Gen.listOfN(300, row).sample.get
    val df = rows.toDF("g", "v")
    val got = df.groupBy("g").agg(Clustering.vecMean(col("v")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    rows.groupBy(_._1).foreach { case (g, grp) =>
      val vs = grp.map(_._2)
      val want = (0 until 6).map(i => vs.map(_(i)).sum / vs.length)
      got(g).zipWithIndex.foreach { case (x, i) =>
        assert(math.abs(x - want(i)) < 1e-9, s"group $g coord $i: $x vs ${want(i)}")
        assert(x >= vs.map(_(i)).min - 1e-9 && x <= vs.map(_(i)).max + 1e-9)
      }
    }
  }

  test("flat JSON kernel equals from_json on random flat race records") {
    import org.apache.spark.sql.types.{BooleanType, IntegerType}
    val ws = Gen.frequency(6 -> "", 2 -> " ", 1 -> "\t", 1 -> "\n", 1 -> "\r\n  ")
    val int = Gen.oneOf(
      Gen.oneOf("0", "-1", "7", "999999999", "-999999999", "1000000000", "2147483647",
        "-2147483648", "2147483648", "01", "-0", "1.0", "2e1"),
      Gen.choose(-100000, 100000).map(_.toString),
      Gen.choose(Int.MinValue, Int.MaxValue).map(_.toString))
    val str = Gen.oneOf(
      Gen.alphaNumStr,
      Gen.oneOf("", "+9.123", "2023-03-05T15:00:00+00:00", "38 laps", "São", "日本",
        "a\\\"b", "a\\\\b", "\\u00e9", "\\n", "a\tb", "{}[],:")).map(v => "\"" + v + "\"")
    val bool = Gen.oneOf("true", "false")
    val anyValue = Gen.oneOf(int, str, bool, Gen.const("null"))
    def value(t: Option[org.apache.spark.sql.types.DataType]) = t match {
      case Some(IntegerType) => Gen.frequency(8 -> int, 1 -> Gen.const("null"), 1 -> anyValue)
      case Some(BooleanType) => Gen.frequency(8 -> bool, 1 -> Gen.const("null"), 1 -> anyValue)
      case Some(_) => Gen.frequency(8 -> str, 1 -> Gen.const("null"), 1 -> anyValue)
      case None => anyValue
    }
    val schema = graft.model.Schemas.raceResultMessage
    val names = schema.fieldNames.toSeq ++ Seq("due_ms", "Position", "x")
    val field = (name: String) => for {
      v <- value(schema.find(_.name == name).map(_.dataType))
      (a, b, c) <- Gen.zip(ws, ws, ws)
    } yield s"$a\"$name\"$b:$c$v"
    val record = for {
      k <- Gen.choose(0, names.size)
      picked <- Gen.pick(k, names)
      order <- Gen.listOfN(k, Gen.choose(0.0, 1.0))
      dup <- Gen.frequency(9 -> Gen.const(Nil), 1 -> Gen.pick(1, names).map(_.toSeq))
      fields <- Gen.sequence[List[String], String]((picked.zip(order).sortBy(_._2).map(_._1) ++ dup).map(field))
      (a, b, c) <- Gen.zip(ws, ws, ws)
    } yield s"$a{${fields.mkString(",")}$b}$c"
    val records = Gen.listOfN(400, record)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(20261021L))

    val (pairs, failed) = ParseParity.withFailedTasks(spark) {
      ParseParity.parses(spark, records.map(Some(_)))
    }
    assert(failed === 0)
    pairs.zip(records).foreach { case ((k, p), r) => assert(k === p, r) }
    // both paths ran: the kernel's own rows and from_json's fallback
    val kernel = ParseParity.kernelOf(spark)
    val owned = records.count(r => kernel.scan(org.apache.spark.unsafe.types.UTF8String.fromString(r)) != null)
    assert(owned > records.size / 5 && owned < records.size * 4 / 5, owned)
  }
}
