package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BoundReference, Expression, GenericInternalRow, JsonToStructs, TimeZoneAwareExpression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot per-row kernels of the dedup /
  * similarity operators. The higher-order-function formulations
  * (transform/aggregate/zip_with) are semantically identical but evaluate
  * one interpreted Catalyst expression node per array element — at 50k
  * docs × ~100 shingles × 8 permutations that is tens of millions of
  * interpreted evals (measured: 69 s / 105 s at sf0.1). These kernels do
  * one JVM-tight loop per row instead (measured: >20× faster), the
  * preference-order (b) path of the build rules: a custom `Expression`
  * before a custom operator, a UDF never. Each implements `doGenCode` (a
  * call into its JVM kernel) rather than `CodegenFallback`, so surrounding
  * projections stay inside one whole-stage-codegen span instead of being
  * split around an interpreted island.
  *
  * Hashing matches `functions.xxhash64` exactly (XXH64, seed 42), so the
  * HOF and native paths are interchangeable.
  */
object NativeExpressions {

  private final val Seed = 42L

  /** Byte-level ASCII-whitespace tokenizer over the UTF8String's backing
    * bytes: multi-byte UTF-8 code points never contain ASCII whitespace
    * bytes, so this is split-on-\s+ without materializing substrings.
    * Callback receives (base, offsetInBase, lengthBytes) per token.
    */
  @inline private def foreachToken(s: UTF8String)(f: (Object, Long, Int) => Unit): Unit = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      while (i < n && isSpace(org.apache.spark.unsafe.Platform.getByte(base, off + i))) i += 1
      val start = i
      while (i < n && !isSpace(org.apache.spark.unsafe.Platform.getByte(base, off + i))) i += 1
      if (i > start) f(base, off + start, i - start)
    }
  }

  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0b

  /** splitmix64 — deterministic per-permutation coefficients. */
  private[functions] def splitmix(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash of a whitespace-tokenized string: per token, vote ±1
    * on each bit of xxhash64(token); simhash bit = sign of the vote.
    * Identical semantics to the HOF formulation in [[Dedup.simHash64HOF]]
    * (including the empty/whitespace-only edge: no tokens → 0L).
    */
  case class SimHash64Expr(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64"

    def compute(s: UTF8String): Long = {
      val votes = new Array[Int](64)
      foreachToken(s) { (base, off, len) =>
        val h = XXH64.hashUnsafeBytes(base, off, len, Seed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
      out
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("simhash", this, classOf[SimHash64Expr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Engine-portable SimHash: votes come from the 64-bit value DuckDB's
    * `md5_number_lower(token)` exposes — the little-endian uint64 of md5
    * digest bytes 8..15 — so the signature replays exactly in SQL. Output
    * is a 16-char lowercase-hex string (dodges int64 sign pitfalls when
    * bit 63 is set, in both engines). No tokens → all votes 0 → all bits
    * 0 → "0000000000000000".
    */
  case class PortableSimHashExpr(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "simhash_md5"

    def compute(s: UTF8String): UTF8String = {
      val votes = new Array[Int](64)
      val md = java.security.MessageDigest.getInstance("MD5")
      foreachToken(s) { (base, off, len) =>
        val b = new Array[Byte](len)
        org.apache.spark.unsafe.Platform.copyMemory(
          base, off, b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len)
        md.reset()
        val d = md.digest(b)
        var h = 0L
        var i = 0
        while (i < 8) { h |= (d(8 + i) & 0xffL) << (8 * i); i += 1 }
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
          bit += 1
        }
      }
      var hi = 0L
      var lo = 0L
      var b = 0
      while (b < 32) { if (votes(b) > 0) lo |= (1L << b); b += 1 }
      while (b < 64) { if (votes(b) > 0) hi |= (1L << (b - 32)); b += 1 }
      UTF8String.fromString(f"$hi%08x$lo%08x")
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("psimhash", this, classOf[PortableSimHashExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // -------------------------------------------------------------- MinHash

  /** k-permutation MinHash signature over word n-gram shingles, one pass:
    * shingle base hash = xxhash64 chain over its token hashes; permutation
    * j applies universal hashing h_j = a_j·h + b_j (a_j odd, splitmix-
    * derived); output = array of k minima. Duplicate shingles need no
    * dedup — min over a multiset equals min over its set.
    */
  case class MinHashSigExpr(child: Expression, k: Int, shingleN: Int)
      extends UnaryExpression {
    require(k > 0 && shingleN > 0)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_sig"

    private lazy val as: Array[Long] = Array.tabulate(k)(j => splitmix(2L * j) | 1L)
    private lazy val bs: Array[Long] = Array.tabulate(k)(j => splitmix(2L * j + 1))

    def compute(s: UTF8String): ArrayData = {
      // token hashes first (each token hashed once, reused across shingles)
      var tokenHashes = new Array[Long](16)
      var nTok = 0
      foreachToken(s) { (base, off, len) =>
        if (nTok == tokenHashes.length)
          tokenHashes = java.util.Arrays.copyOf(tokenHashes, nTok * 2)
        tokenHashes(nTok) = XXH64.hashUnsafeBytes(base, off, len, Seed)
        nTok += 1
      }
      val mins = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i <= nTok - shingleN) {
        var h = Seed
        var j = 0
        while (j < shingleN) { h = XXH64.hashLong(tokenHashes(i + j), h); j += 1 }
        var p = 0
        while (p < k) {
          val hp = as(p) * h + bs(p)
          if (hp < mins(p)) mins(p) = hp
          p += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("minhash", this, classOf[MinHashSigExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Engine-portable MinHash signature: per permutation j the signature is
    * the lexicographic min over word n-gram shingles of
    * `md5(shingle || "#j")` as a lowercase-hex string — byte-for-byte the
    * HOF formulation `array_min(transform(shingles, s → md5(concat(s,
    * '#j'))))` over [[Dedup.wordShingles]], and expressible in DuckDB as
    * `list_min(list_transform(g, x → md5(x || '#j')))`, which is what makes
    * the MinHash-LSH pipeline oracle-checkable. Fewer than `shingleN`
    * tokens → all-null signature (array_min of an empty array is null).
    *
    * The HOF form is the executable spec (DedupSpec asserts equality); this
    * kernel exists because interpreted per-shingle concat+md5 was measured
    * 20×+ slower at sf0.1.
    */
  case class PortableMinHashExpr(child: Expression, k: Int, shingleN: Int)
      extends UnaryExpression {
    require(k > 0 && shingleN > 0)
    override def dataType: DataType = ArrayType(StringType, containsNull = true)
    override def prettyName: String = "minhash_sig_md5"

    @transient private lazy val suffixes: Array[Array[Byte]] =
      Array.tabulate(k)(j => s"#$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))

    def compute(s: UTF8String): ArrayData = {
      // materialize token byte slices once (shingles reuse them)
      val toks = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      foreachToken(s) { (base, off, len) =>
        val b = new Array[Byte](len)
        org.apache.spark.unsafe.Platform.copyMemory(
          base, off, b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len)
        toks += b
      }
      val out = new Array[UTF8String](k)
      val nSh = toks.length - shingleN + 1
      if (nSh <= 0) return new GenericArrayData(out) // all nulls
      val md = java.security.MessageDigest.getInstance("MD5")
      val mins = new Array[Array[Byte]](k)
      var i = 0
      while (i < nSh) {
        // shingle bytes = tokens joined by a single space (concat_ws " ")
        var len = shingleN - 1
        var j = 0
        while (j < shingleN) { len += toks(i + j).length; j += 1 }
        val sh = new Array[Byte](len)
        var pos = 0
        j = 0
        while (j < shingleN) {
          if (j > 0) { sh(pos) = ' '; pos += 1 }
          val t = toks(i + j)
          System.arraycopy(t, 0, sh, pos, t.length)
          pos += t.length
          j += 1
        }
        var p = 0
        while (p < k) {
          md.reset()
          md.update(sh)
          md.update(suffixes(p))
          val d = md.digest()
          if (mins(p) == null || unsignedLess(d, mins(p))) mins(p) = d
          p += 1
        }
        i += 1
      }
      var p = 0
      while (p < k) { out(p) = UTF8String.fromString(hex(mins(p))); p += 1 }
      new GenericArrayData(out)
    }

    // NB: duplicate shingles need no dedup (min over a multiset == min over
    // its set), so wordShingles' array_distinct is immaterial here.
    @inline private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
      var i = 0
      while (i < a.length) {
        val x = a(i) & 0xff
        val y = b(i) & 0xff
        if (x != y) return x < y
        i += 1
      }
      false
    }

    private def hex(d: Array[Byte]): String = {
      val sb = new java.lang.StringBuilder(32)
      var i = 0
      while (i < d.length) {
        sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
        sb.append(Character.forDigit(d(i) & 0xf, 16))
        i += 1
      }
      sb.toString
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pminhash", this, classOf[PortableMinHashExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Sorted distinct word n-gram shingle hashes (same hash chain as
    * [[MinHashSigExpr]]). The long-array form of `wordShingles`: exact-
    * Jaccard verification intersects these instead of shingle strings —
    * ~8 bytes/shingle instead of a string, and sorted so the comparison
    * is a linear merge.
    */
  case class ShingleHashesExpr(child: Expression, shingleN: Int)
      extends UnaryExpression {
    require(shingleN > 0)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "shingle_hashes"

    def compute(s: UTF8String): ArrayData = {
      var tokenHashes = new Array[Long](16)
      var nTok = 0
      foreachToken(s) { (base, off, len) =>
        if (nTok == tokenHashes.length)
          tokenHashes = java.util.Arrays.copyOf(tokenHashes, nTok * 2)
        tokenHashes(nTok) = XXH64.hashUnsafeBytes(base, off, len, Seed)
        nTok += 1
      }
      val nSh = math.max(0, nTok - shingleN + 1)
      val out = new Array[Long](nSh)
      var i = 0
      while (i < nSh) {
        var h = Seed
        var j = 0
        while (j < shingleN) { h = XXH64.hashLong(tokenHashes(i + j), h); j += 1 }
        out(i) = h
        i += 1
      }
      java.util.Arrays.sort(out)
      // distinct in place over the sorted array
      var w = 0
      i = 0
      while (i < nSh) {
        if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
        i += 1
      }
      new GenericArrayData(if (w == nSh) out else java.util.Arrays.copyOf(out, w))
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("shingles", this, classOf[ShingleHashesExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** POSITIONAL word n-gram shingle hashes: element i is the hash of
    * the span starting at token i — same tokenizer and XXH64 chain as
    * [[ShingleHashesExpr]] (so values agree), but NOT sorted and NOT
    * distinct, because span-scrubbing needs to know WHERE each span
    * sits ([[Dedup.scrubDuplicatedSpans]] covers token positions
    * [i, i+n-1] for every duplicated span at i).
    */
  case class PositionalShingleHashesExpr(child: Expression, shingleN: Int)
      extends UnaryExpression {
    require(shingleN > 0)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "positional_shingle_hashes"

    def compute(s: UTF8String): ArrayData = {
      var tokenHashes = new Array[Long](16)
      var nTok = 0
      foreachToken(s) { (base, off, len) =>
        if (nTok == tokenHashes.length)
          tokenHashes = java.util.Arrays.copyOf(tokenHashes, nTok * 2)
        tokenHashes(nTok) = XXH64.hashUnsafeBytes(base, off, len, Seed)
        nTok += 1
      }
      val nSh = math.max(0, nTok - shingleN + 1)
      val out = new Array[Long](nSh)
      var i = 0
      while (i < nSh) {
        var h = Seed
        var j = 0
        while (j < shingleN) { h = XXH64.hashLong(tokenHashes(i + j), h); j += 1 }
        out(i) = h
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pshingles", this,
        classOf[PositionalShingleHashesExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Jaccard similarity of two sorted distinct long arrays via linear
    * merge — the verification kernel for MinHash-LSH candidates.
    */
  case class SortedJaccardExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "sorted_jaccard"

    def compute(a: ArrayData, b: ArrayData): Double = {
      val xs = a.toLongArray()
      val ys = b.toLongArray()
      var i = 0
      var j = 0
      var inter = 0
      while (i < xs.length && j < ys.length) {
        if (xs(i) == ys(j)) { inter += 1; i += 1; j += 1 }
        else if (xs(i) < ys(j)) i += 1
        else j += 1
      }
      val union = xs.length + ys.length - inter
      if (union == 0) 0.0d else inter.toDouble / union.toDouble
    }

    override protected def nullSafeEval(a: Any, b: Any): Any =
      compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("jaccard", this, classOf[SortedJaccardExpr].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  // -------------------------------------------------------------- vectors

  /** Dot product of two double arrays — the kernel under cosine/norm. One
    * tight loop instead of zip_with+aggregate's per-element interpreted
    * eval; numerically identical (sequential left-to-right double adds).
    */
  case class VecDotExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_dot"

    def compute(a: ArrayData, b: ArrayData): Double = {
      // read elements IN PLACE (getDouble on the array data) instead of
      // toDoubleArray: the copy allocated a fresh double[] per input
      // per invocation, and cosine() calls this three times per pair —
      // six array materializations per scored candidate, a measured
      // 4.8% of sf1 batch CPU (UnsafeArrayData.toDoubleArray in the
      // profile). Same ascending accumulation order, so results are
      // bit-identical and every oracle is unaffected.
      val n = math.min(a.numElements(), b.numElements())
      var acc = 0.0d
      var i = 0
      while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
      acc
    }

    override protected def nullSafeEval(a: Any, b: Any): Any =
      compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("vecdot", this, classOf[VecDotExpr].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** The `nProbe` nearest centroids of a double vector by squared Euclidean
    * distance (matching how MLlib KMeans trains the centroids — ranking by
    * dot product diverges from the learned Voronoi cells for unnormalized
    * embeddings), ties broken toward the lower cell id. The centroid matrix
    * rides inside the expression — serialized once per task with the plan,
    * the broadcast-small-side pattern expressed as a narrow map: no join,
    * no shuffle, no row growth, which is what lets IVF assignment survive
    * 100 TB (the previous crossJoin+window formulation multiplied the
    * corpus by nCells and shuffled it on a per-row key).
    *
    * `||v−c||² = ||v||² − 2v·c + ||c||²`; `||v||²` is constant per row, so
    * the ranking score is `||c||² − 2v·c` with `||c||²` precomputed.
    */
  case class NearestCellsExpr(child: Expression, centroids: Array[Array[Double]], n: Int)
      extends UnaryExpression {
    require(centroids.nonEmpty && n > 0)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "nearest_cells"

    @transient private lazy val cNorm2: Array[Double] =
      centroids.map(c => c.map(x => x * x).sum)

    def compute(v: ArrayData): ArrayData = {
      // in-place reads, as in VecDotExpr: no per-row double[] copy
      val vn = v.numElements()
      val m = centroids.length
      val scores = new Array[Double](m)
      var i = 0
      while (i < m) {
        val c = centroids(i)
        val len = math.min(vn, c.length)
        var dot = 0.0d
        var j = 0
        while (j < len) { dot += v.getDouble(j) * c(j); j += 1 }
        scores(i) = cNorm2(i) - 2.0d * dot
        i += 1
      }
      val nn = math.min(n, m)
      val out = new Array[Int](nn)
      val used = new Array[Boolean](m)
      var r = 0
      while (r < nn) {
        var best = -1
        var bestScore = Double.PositiveInfinity
        i = 0
        while (i < m) {
          if (!used(i) && scores(i) < bestScore) { bestScore = scores(i); best = i }
          i += 1
        }
        // NaN in the vector makes every score NaN and every comparison
        // false — fall back to the lowest unused cell instead of letting
        // one corrupt embedding kill the task (used(-1) would throw)
        if (best < 0) {
          i = 0
          while (best < 0 && i < m) { if (!used(i)) best = i; i += 1 }
        }
        used(best) = true
        out(r) = best
        r += 1
      }
      new GenericArrayData(out)
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cells", this, classOf[NearestCellsExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Engine-portable hash bucket: `remainderUnsigned(h, buckets)` where
    * `h` is the little-endian uint64 of md5 digest bytes 8..15 — the
    * exact value DuckDB's `md5_number_lower(s)` exposes, so
    * `md5_number_lower(s) % N` replays it in SQL. The deterministic
    * train/val/test splitter's kernel: a doc's split must depend only on
    * its id — never on partitioning, run, or engine.
    */
  case class Md5BucketExpr(child: Expression, buckets: Int)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    require(buckets > 0)
    // analysis-time contract (never a mid-stage ClassCast); numeric ids
    // implicitly cast to their string form — the same cast withSplit
    // applies and the DuckDB oracle's CAST(id AS VARCHAR) mirrors
    override def inputTypes: Seq[DataType] =
      Seq(StringType)
    override def dataType: DataType = IntegerType
    override def prettyName: String = "md5_bucket"

    def compute(s: UTF8String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest(s.getBytes)
      var h = 0L
      var i = 0
      while (i < 8) { h |= (d(8 + i) & 0xffL) << (8 * i); i += 1 }
      java.lang.Long.remainderUnsigned(h, buckets.toLong).toInt
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("md5bucket", this, classOf[Md5BucketExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** xxhash64 sibling of [[Md5BucketBigramsExpr]] — the production
    * DSIR featurize at scale: same adjacent-token bigram walk, but the
    * bucket comes from the XXH64 token-hash chain ([[ShingleHashesExpr]]
    * with n = 2) instead of md5 over re-assembled bytes — no per-token
    * byte copies, no MessageDigest, ~an order of magnitude less hash
    * work. NOT oracle-portable: a different hash is a different
    * bucketing, so DSIR scores built on it differ from the md5 path
    * (both are equally valid featurizations — Xie et al. 2023 only
    * require A fixed hash); use the md5 path when replaying in SQL.
    */
  case class XxBucketBigramsExpr(child: Expression, buckets: Int)
      extends UnaryExpression {
    require(buckets > 0)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "xx_bucket_bigrams"

    def compute(s: UTF8String): ArrayData = {
      var tokenHashes = new Array[Long](16)
      var n = 0
      foreachToken(s) { (base, off, len) =>
        if (n == tokenHashes.length)
          tokenHashes = java.util.Arrays.copyOf(tokenHashes, n * 2)
        tokenHashes(n) = XXH64.hashUnsafeBytes(base, off, len, Seed)
        n += 1
      }
      if (n < 2) return new GenericArrayData(Array.empty[Int])
      val out = new Array[Int](n - 1)
      var i = 0
      while (i < n - 1) {
        val h = XXH64.hashLong(tokenHashes(i + 1), XXH64.hashLong(tokenHashes(i), Seed))
        out(i) = java.lang.Long.remainderUnsigned(h, buckets.toLong).toInt
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("xxbigrams", this, classOf[XxBucketBigramsExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** [[Md5BucketExpr]] applied to every word BIGRAM of a text in one
    * tight loop: returns the md5 bucket of `"tok_i tok_i+1"` for each
    * adjacent token pair, with multiplicity (the DSIR featurize step).
    * Bit-identical to `md5_bucket(concat_ws(' ', w[i], w[i+1]))` over
    * the HOF-built bigram list — which evaluates several interpreted
    * Catalyst nodes per element and measured ~4 s of pure bigram-
    * assembly overhead at sf0.1; this kernel hashes straight from the
    * token byte slices. Fewer than 2 tokens → empty array.
    */
  /** Per-TOKEN md5 hash buckets in one kernel pass — the unigram
    * sibling of [[Md5BucketBigramsExpr]] (same digest, same lower-64
    * assembly, same unsigned mod): text → one bucket per whitespace
    * token, ONE MessageDigest instance per row instead of the
    * per-token `getInstance` the scalar [[Md5BucketExpr]]-inside-
    * explode plan pays (measured: the classifier featurize over 1M
    * token rows dropped ~4x). Bit-identical to `md5_bucket(tok)` per
    * token; empty/whitespace-only text → empty array (foreachToken
    * skips empty runs — the oracle's token unnest filters
    * length(tok) > 0 to match).
    */
  /** The token byte slices of a text (copied once — md5 needs contiguous
    * input): the shared front half of the md5-bucket kernels.
    */
  private def tokenBytes(s: UTF8String): Array[Array[Byte]] = {
    var toks = new Array[Array[Byte]](16)
    var n = 0
    foreachToken(s) { (base, off, len) =>
      if (n == toks.length) toks = java.util.Arrays.copyOf(toks, n * 2)
      val b = new Array[Byte](len)
      org.apache.spark.unsafe.Platform.copyMemory(
        base, off, b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len)
      toks(n) = b
      n += 1
    }
    if (n == toks.length) toks else java.util.Arrays.copyOf(toks, n)
  }

  /** md5 bucket of each token (multiplicity kept) — the loop shared by
    * [[Md5BucketTokensExpr]] and [[HashedFeatureArraysExpr]].
    */
  private def md5TokenBuckets(toks: Array[Array[Byte]], buckets: Int): Array[Int] = {
    if (toks.length == 0) return Array.empty[Int]
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Int](toks.length)
    var i = 0
    while (i < toks.length) {
      md.reset()
      md.update(toks(i))
      val d = md.digest()
      var h = 0L
      var j = 0
      while (j < 8) { h |= (d(8 + j) & 0xffL) << (8 * j); j += 1 }
      out(i) = java.lang.Long.remainderUnsigned(h, buckets.toLong).toInt
      i += 1
    }
    out
  }

  /** md5 bucket of each adjacent token pair — the bigram sibling. */
  private def md5BigramBuckets(toks: Array[Array[Byte]], buckets: Int): Array[Int] = {
    if (toks.length < 2) return Array.empty[Int]
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Int](toks.length - 1)
    var i = 0
    while (i < toks.length - 1) {
      md.reset()
      md.update(toks(i))
      md.update(' '.toByte)
      md.update(toks(i + 1))
      val d = md.digest()
      var h = 0L
      var j = 0
      while (j < 8) { h |= (d(8 + j) & 0xffL) << (8 * j); j += 1 }
      out(i) = java.lang.Long.remainderUnsigned(h, buckets.toLong).toInt
      i += 1
    }
    out
  }

  case class Md5BucketTokensExpr(child: Expression, buckets: Int)
      extends UnaryExpression {
    require(buckets > 0)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "md5_bucket_tokens"

    def compute(s: UTF8String): ArrayData =
      new GenericArrayData(md5TokenBuckets(tokenBytes(s), buckets))

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("md5buckettokens", this, classOf[Md5BucketTokensExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class Md5BucketBigramsExpr(child: Expression, buckets: Int)
      extends UnaryExpression {
    require(buckets > 0)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "md5_bucket_bigrams"

    def compute(s: UTF8String): ArrayData =
      new GenericArrayData(md5BigramBuckets(tokenBytes(s), buckets))

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("md5bigrams", this, classOf[Md5BucketBigramsExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** The classifier featurize ([[graft.functions.Classifier]]'s hashed
    * BOW ± bigram block) in ONE per-row pass: returns
    * struct(feats: array<int>, xs: array<decimal(10,6)>) — the doc's
    * complete sparse feature vector, bucket ids ascending within each
    * block. Layout and VALUES are byte-identical to the relational
    * explode → groupBy(doc, bucket) → round(cnt/len, 6) formulation
    * (ClassifierSpec pins the identity): same md5 bucket loop, same
    * double division, and the round+cast chain replicated literally —
    * round(double, 6) is BigDecimal.valueOf(v).setScale(6, HALF_UP)
    * .doubleValue, then the decimal cast re-rounds the same way. A
    * doc's feature vector is doc-local, so featurize needs NO explode
    * shuffle: at 100 TB the (doc, bucket) exchange the grouped form
    * paid per featurize (and per GD descent) simply disappears.
    * Blocks: [0, uniDim) token buckets (x = cnt/len), [uniDim,
    * uniDim+biDim) bigram buckets (x = cnt/blen), feat uniDim+biDim =
    * inverse length (1/len), feat uniDim+biDim+1 = bias (1.0).
    * biDim = 0 is the pure-BOW layout.
    */
  case class HashedFeatureArraysExpr(child: Expression, uniDim: Int, biDim: Int)
      extends UnaryExpression {
    require(uniDim > 0 && biDim >= 0)
    override def dataType: DataType = StructType(Seq(
      StructField("feats", ArrayType(IntegerType, containsNull = false),
        nullable = false),
      StructField("xs", ArrayType(DecimalType(10, 6), containsNull = false),
        nullable = false)))
    override def prettyName: String = "hashed_feature_arrays"

    /** round(num/den, 6) cast to Decimal(10,6), replicating Catalyst's
      * Round-on-double (shortest-repr BigDecimal, HALF_UP, back to
      * double) followed by Cast-to-decimal (same rounding) — the exact
      * chain the relational featurize evaluates.
      */
    private def x6(num: Double, den: Double): Decimal = {
      val v1 = java.math.BigDecimal.valueOf(num / den)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      Decimal(java.math.BigDecimal.valueOf(v1)
        .setScale(6, java.math.RoundingMode.HALF_UP), 10, 6)
    }

    /** ascending (bucket → count) pairs appended as (feat+offset, cnt/den). */
    private def appendBlock(bks: Array[Int], offset: Int, den: Double,
        feats: java.util.ArrayList[Integer],
        xs: java.util.ArrayList[Decimal]): Unit = {
      if (bks.length == 0) return
      val sorted = bks.clone()
      java.util.Arrays.sort(sorted)
      var i = 0
      while (i < sorted.length) {
        var j = i + 1
        while (j < sorted.length && sorted(j) == sorted(i)) j += 1
        feats.add(sorted(i) + offset)
        xs.add(x6((j - i).toDouble, den))
        i = j
      }
    }

    def compute(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
      val toks = tokenBytes(s)
      val ubks = md5TokenBuckets(toks, uniDim)
      val len = math.max(ubks.length, 1).toDouble
      val feats = new java.util.ArrayList[Integer]()
      val xs = new java.util.ArrayList[Decimal]()
      appendBlock(ubks, 0, len, feats, xs)
      if (biDim > 0) {
        val bbks = md5BigramBuckets(toks, biDim)
        val blen = math.max(bbks.length, 1).toDouble
        appendBlock(bbks, uniDim, blen, feats, xs)
      }
      feats.add(uniDim + biDim)
      xs.add(x6(1.0, len))
      feats.add(uniDim + biDim + 1)
      xs.add(Decimal(java.math.BigDecimal.ONE.setScale(6), 10, 6))
      val fArr = new Array[Int](feats.size())
      val xArr = new Array[Any](xs.size())
      var i = 0
      while (i < fArr.length) { fArr(i) = feats.get(i); xArr(i) = xs.get(i); i += 1 }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](new GenericArrayData(fArr), new GenericArrayData(xArr)))
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("hashedfeatarrays", this,
        classOf[HashedFeatureArraysExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-doc BIGRAM multiplicity table in ONE per-row pass:
    * struct(bgs: array<string>, cnts: array<long>) — every distinct
    * word bigram of the doc with its occurrence count, byte-identical
    * to exploding [[graft.functions.TextAnalysis.bigrams]] and grouping
    * by (doc, bigram): bigram strings are built from the SPLIT-semantics
    * token list (including the empty edge tokens a tab/newline edge
    * yields — `concat_ws` keeps empty strings, so " a" is a real bigram
    * there) joined with one space, and counted by true byte equality.
    * Replaces the (doc, bigram-string) explode + grouped-count EXCHANGE
    * of the bigram-LM scorers' doc side — the dominant shuffle of the
    * qd62/qd78 family at corpus scale (the model joins already
    * broadcast) — with a narrow kernel + in-place explode: counting a
    * doc-local multiplicity needs no shuffle. First-occurrence order
    * (deterministic per doc; order is irrelevant downstream — the rows
    * feed equi-joins and exact decimal sums).
    */
  case class BigramCountsExpr(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("bgs", ArrayType(StringType, containsNull = false),
        nullable = false),
      StructField("cnts", ArrayType(LongType, containsNull = false),
        nullable = false)))
    override def prettyName: String = "bigram_counts"

    def compute(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
      // split-semantics token list, including empty edge tokens (the
      // TopTokenStatsExpr analysis): trim strips ASCII spaces only
      val base = s.getBaseObject
      val off = s.getBaseOffset
      var lo = 0
      var hi = s.numBytes()
      while (lo < hi &&
        org.apache.spark.unsafe.Platform.getByte(base, off + lo) == ' ') lo += 1
      while (hi > lo &&
        org.apache.spark.unsafe.Platform.getByte(base, off + hi - 1) == ' ') hi -= 1
      val toks = new java.util.ArrayList[UTF8String]()
      if (hi == lo) {
        toks.add(UTF8String.EMPTY_UTF8) // "" → [''] — one empty token
      } else {
        if (isSpace(org.apache.spark.unsafe.Platform.getByte(base, off + lo)))
          toks.add(UTF8String.EMPTY_UTF8)
        foreachToken(s) { (b, o, len) =>
          val arr = new Array[Byte](len)
          org.apache.spark.unsafe.Platform.copyMemory(
            b, o, arr, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len)
          toks.add(UTF8String.fromBytes(arr))
        }
        if (isSpace(org.apache.spark.unsafe.Platform.getByte(base, off + hi - 1)))
          toks.add(UTF8String.EMPTY_UTF8)
      }
      val n = toks.size()
      if (n < 2) return new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](
          new GenericArrayData(Array.empty[Any]),
          new GenericArrayData(Array.empty[Long])))
      val space = UTF8String.fromString(" ")
      // first-occurrence order: LinkedHashMap keeps emission stable
      val counts = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
      var i = 0
      while (i < n - 1) {
        val bg = UTF8String.concat(toks.get(i), space, toks.get(i + 1))
        val prev = counts.get(bg)
        counts.put(bg, if (prev == null) 1L else prev + 1L)
        i += 1
      }
      val m = counts.size()
      val bgs = new Array[Any](m)
      val cnts = new Array[Long](m)
      val it = counts.entrySet().iterator()
      var j = 0
      while (it.hasNext) {
        val e = it.next()
        bgs(j) = e.getKey
        cnts(j) = e.getValue
        j += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](new GenericArrayData(bgs), new GenericArrayData(cnts)))
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bigramcounts", this,
        classOf[BigramCountsExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-doc TOKEN multiplicity table in ONE per-row pass:
    * struct(toks: array<string>, cnts: array<long>) — every distinct
    * whitespace token with its occurrence count, byte-identical to
    * exploding `tokens(text)` and grouping by (doc, token) (true
    * byte-equality counting, split(trim, \s+) semantics including the
    * empty edge tokens). The unigram sibling of [[BigramCountsExpr]]:
    * replaces [[graft.functions.TextAnalysis.unigramTf]]'s
    * (doc, token) explode + grouped-count exchange with a narrow
    * kernel + in-place explode — the tf frame's OWN derivation stops
    * shuffling; only the genuinely cross-doc aggregations over it
    * (vocabulary counts) still exchange.
    */
  case class TokenCountsExpr(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("toks", ArrayType(StringType, containsNull = false),
        nullable = false),
      StructField("cnts", ArrayType(LongType, containsNull = false),
        nullable = false)))
    override def prettyName: String = "token_counts"

    def compute(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
      val base = s.getBaseObject
      val off = s.getBaseOffset
      var lo = 0
      var hi = s.numBytes()
      while (lo < hi &&
        org.apache.spark.unsafe.Platform.getByte(base, off + lo) == ' ') lo += 1
      while (hi > lo &&
        org.apache.spark.unsafe.Platform.getByte(base, off + hi - 1) == ' ') hi -= 1
      val counts = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
      def add(t: UTF8String): Unit = {
        val prev = counts.get(t)
        counts.put(t, if (prev == null) 1L else prev + 1L)
      }
      if (hi == lo) add(UTF8String.EMPTY_UTF8) // "" → [''] — one empty token
      else {
        if (isSpace(org.apache.spark.unsafe.Platform.getByte(base, off + lo)))
          add(UTF8String.EMPTY_UTF8)
        foreachToken(s) { (b, o, len) =>
          val arr = new Array[Byte](len)
          org.apache.spark.unsafe.Platform.copyMemory(
            b, o, arr, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len)
          add(UTF8String.fromBytes(arr))
        }
        if (isSpace(org.apache.spark.unsafe.Platform.getByte(base, off + hi - 1)))
          add(UTF8String.EMPTY_UTF8)
      }
      val m = counts.size()
      val toks = new Array[Any](m)
      val cnts = new Array[Long](m)
      val it = counts.entrySet().iterator()
      var j = 0
      while (it.hasNext) {
        val e = it.next()
        toks(j) = e.getKey
        cnts(j) = e.getValue
        j += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](new GenericArrayData(toks), new GenericArrayData(cnts)))
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("tokencounts", this,
        classOf[TokenCountsExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Whitespace token COUNT in one allocation-free byte pass —
    * value- and type-identical to `size(split(trim(text), "\s+"))`
    * (IntegerType, null → null), including the edge-token subtleties:
    * `trim` strips ASCII spaces only, so a leading/trailing non-space
    * whitespace run (tab, newline …) yields an empty edge token, and
    * empty/all-space text yields the single empty token (count 1).
    * Exists because `tokenCount` is the most widely composed per-doc
    * signal (quality gates, packing budgets, BM25 doc lengths): the
    * split form allocates the full token array — one UTF8String per
    * token — just to take its length, which at 32 saturated threads is
    * pure GC pressure (guide §4 "expressions and codegen").
    */
  case class TokenCountExpr(child: Expression)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = IntegerType
    override def prettyName: String = "token_count"

    def compute(s: UTF8String): Int = {
      val base = s.getBaseObject
      val off = s.getBaseOffset
      var lo = 0
      var hi = s.numBytes()
      while (lo < hi &&
        org.apache.spark.unsafe.Platform.getByte(base, off + lo) == ' ') lo += 1
      while (hi > lo &&
        org.apache.spark.unsafe.Platform.getByte(base, off + hi - 1) == ' ') hi -= 1
      if (hi == lo) return 1 // trim → "" → [''] — one empty token
      var n = 0
      if (isSpace(org.apache.spark.unsafe.Platform.getByte(base, off + lo))) n += 1
      if (isSpace(org.apache.spark.unsafe.Platform.getByte(base, off + hi - 1))) n += 1
      foreachToken(s)((_, _, _) => n += 1)
      n
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("tokencount", this,
        classOf[TokenCountExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** The narrow quality-signal triple in ONE allocation-free byte pass:
    * array<long> [token count, Σ token code-point lengths, stopword
    * hits] under exact `split(trim(text), "\s+")` semantics (same edge
    * tokens as [[TokenCountExpr]]; empty edge tokens contribute 0
    * length and never match a stopword). Derivations stay in Catalyst
    * (double division + `round(…, 4)`), so the exposed values are
    * bit-identical to the HOF forms they replace:
    *  - Σ token lengths ≡ `aggregate(toks, 0L, acc + length(t))` ≡
    *    `length(regexp_replace(text, "\s+", ""))` (every non-whitespace
    *    code point lies in exactly one token; `length` counts code
    *    points = non-continuation UTF-8 bytes);
    *  - stopword hits ≡ `size(filter(toks, t.isin(stops)))` — byte
    *    equality against the list riding in the expression.
    * Replaces the gate-path HOFs (`aggregate`, `filter`+`isin`), which
    * do not codegen (CodegenFallback: one interpreted Expression eval
    * per token × per stopword literal) and require the materialized
    * token array — the measured 1.65×+ interpreted-island cost of the
    * streaming quality gate (GateProbe, round 20) and the per-row tail
    * of qd03/qd40/gopherFilter (guide §4).
    */
  case class QualityStatsExpr(child: Expression, stops: Seq[String])
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "quality_stats"
    // a zero-length stop word would match empty edge tokens in the
    // size(filter(toks, isin)) form, which this kernel never checks
    require(stops.forall(_.nonEmpty),
      "quality_stats: stop words must be non-empty (an empty stop word " +
        "breaks the size(filter(toks, isin)) identity)")

    @transient private lazy val stopBytes: Array[Array[Byte]] =
      stops.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

    def compute(s: UTF8String): ArrayData = {
      val base = s.getBaseObject
      val off = s.getBaseOffset
      var lo = 0
      var hi = s.numBytes()
      while (lo < hi &&
        org.apache.spark.unsafe.Platform.getByte(base, off + lo) == ' ') lo += 1
      while (hi > lo &&
        org.apache.spark.unsafe.Platform.getByte(base, off + hi - 1) == ' ') hi -= 1
      // trim → "" → [''] — one empty token, zero length, zero stopwords
      if (hi == lo) return new GenericArrayData(Array(1L, 0L, 0L))
      var n = 0L
      if (isSpace(org.apache.spark.unsafe.Platform.getByte(base, off + lo))) n += 1
      if (isSpace(org.apache.spark.unsafe.Platform.getByte(base, off + hi - 1))) n += 1
      var sumLen = 0L
      var nStop = 0L
      val sw = stopBytes
      foreachToken(s) { (b, o, len) =>
        n += 1
        var i = 0
        while (i < len) {
          // code points = non-continuation bytes (UTF8String.numChars)
          if ((org.apache.spark.unsafe.Platform.getByte(b, o + i) & 0xC0) != 0x80)
            sumLen += 1
          i += 1
        }
        var k = 0
        var hit = false
        while (!hit && k < sw.length) {
          val w = sw(k)
          if (w.length == len) {
            var j = 0
            var eq = true
            while (eq && j < len) {
              if (org.apache.spark.unsafe.Platform.getByte(b, o + j) != w(j)) eq = false
              j += 1
            }
            hit = eq
          }
          k += 1
        }
        if (hit) nStop += 1
      }
      new GenericArrayData(Array(n, sumLen, nStop))
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("qualitystats", this,
        classOf[QualityStatsExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Count of whitespace tokens byte-equal to any of `words`, in one
    * allocation-free byte pass — value- and type-identical to
    * `size(filter(tokens(text), t => t.isin(words)))` (IntegerType,
    * null → null, split(trim, \s+) semantics incl. empty edge tokens:
    * an empty word in `words` counts them, any other word never can).
    * The kernel under [[TextAnalysis.wordHits]] — the language-marker
    * scorer ([[TextAnalysis.langId]]/withLangId) evaluated the HOF
    * filter + isin INTERPRETED per token × marker literal over a
    * materialized token array (guide §4, the keepNarrow finding).
    */
  case class WordHitsExpr(child: Expression, words: Seq[String])
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = IntegerType
    override def prettyName: String = "word_hits"

    @transient private lazy val wordBytes: Array[Array[Byte]] =
      words.filter(_.nonEmpty).distinct
        .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
    @transient private lazy val hasEmptyWord: Boolean = words.contains("")

    def compute(s: UTF8String): Int = {
      val base = s.getBaseObject
      val off = s.getBaseOffset
      var lo = 0
      var hi = s.numBytes()
      while (lo < hi &&
        org.apache.spark.unsafe.Platform.getByte(base, off + lo) == ' ') lo += 1
      while (hi > lo &&
        org.apache.spark.unsafe.Platform.getByte(base, off + hi - 1) == ' ') hi -= 1
      var hits = 0
      if (hi == lo) return if (hasEmptyWord) 1 else 0 // trim → "" → ['']
      if (hasEmptyWord) {
        if (isSpace(org.apache.spark.unsafe.Platform.getByte(base, off + lo))) hits += 1
        if (isSpace(org.apache.spark.unsafe.Platform.getByte(base, off + hi - 1))) hits += 1
      }
      val ws = wordBytes
      foreachToken(s) { (b, o, len) =>
        var k = 0
        var hit = false
        while (!hit && k < ws.length) {
          val w = ws(k)
          if (w.length == len) {
            var j = 0
            var eq = true
            while (eq && j < len) {
              if (org.apache.spark.unsafe.Platform.getByte(b, o + j) != w(j)) eq = false
              j += 1
            }
            hit = eq
          }
          k += 1
        }
        if (hit) hits += 1
      }
      hits
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("wordhits", this,
        classOf[WordHitsExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Exact-decimal sparse dot product against a weight vector riding in
    * the expression (the broadcast-small-side pattern of
    * [[NearestCellsExpr]]): margin = Σ w[feat_i]·x_i as an EXACT
    * java BigDecimal sum (scale 16 products — order-free), exposed as
    * the double the decimal sum would cast to. Value-identical to the
    * relational margin (broadcast weight join + decimal window/group
    * sum + cast to double) at any feature order, because exact decimal
    * addition is associative — the property the whole replayable-GD
    * discipline rests on. Per GD iteration this removes the broadcast
    * hash join AND the margin window; with the gradient's
    * partition-local accumulation the iteration touches no exchange at
    * all.
    */
  case class DecimalDotExpr(feats: Expression, xs: Expression,
      weights: IndexedSeq[java.math.BigDecimal])
      extends BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    override def left: Expression = feats
    override def right: Expression = xs
    // pins the xs scale the kernel reads (ADVICE r19: getDecimal(i,10,6)
    // over a differently-scaled decimal array would silently misread):
    // ImplicitCastInputTypes casts any other decimal array to
    // array<decimal(10,6)> at analysis, rounding to scale 6, so the
    // kernel only ever reads the scale it expects
    override def inputTypes: Seq[DataType] = Seq(
      ArrayType(IntegerType), ArrayType(DecimalType(10, 6)))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "decimal_dot"

    // IndexedSeq, not Array (ADVICE r19): an Array field compares by
    // reference, so semantically equal expressions never canonicalize
    // equal — defeating subexpression elimination of repeated margins
    def compute(f: ArrayData, x: ArrayData): Double = {
      var acc = java.math.BigDecimal.ZERO
      val n = f.numElements()
      var i = 0
      while (i < n) {
        val fi = f.getInt(i)
        if (fi < 0 || fi >= weights.length)
          throw new IllegalArgumentException(
            s"decimal_dot: feature index $fi outside the weight vector " +
              s"[0, ${weights.length}) — the vector must be dense over the featurize dims")
        acc = acc.add(weights(fi)
          .multiply(x.getDecimal(i, 10, 6).toJavaBigDecimal))
        i += 1
      }
      acc.doubleValue()
    }

    override protected def nullSafeEval(a: Any, b: Any): Any =
      compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("decimaldot", this,
        classOf[DecimalDotExpr].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(feats = l, xs = r)
  }

  /** Per-doc top-token statistics in ONE per-row pass:
    * [max multiplicity of any token, total token count], both under
    * `split(trim(text), "\s+")` semantics (empty/whitespace-only text
    * yields the single empty token, so both stats read 1 — matching the
    * explode+groupBy formulation this kernel replaces byte-for-byte).
    * Token identity is TRUE BYTE EQUALITY (a java HashMap keyed on the
    * token's UTF8String — no hash-collision merge is possible), so the
    * counts are exactly the relational explode→count's. Replaces the
    * (id, token) explode shuffle + two grouped aggregations of
    * [[TextAnalysis.topTokenFraction]] with a zero-shuffle projection:
    * at corpus scale the explode shipped every token occurrence
    * through an exchange to count something every doc can count
    * locally. O(tokens) time and memory per row.
    */
  case class TopTokenStatsExpr(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "top_token_stats"

    def compute(s: UTF8String): ArrayData = {
      // tokens(text) = split(trim(text), "\s+", -1). `trim` strips
      // ASCII SPACES only, so a leading/trailing non-space whitespace
      // run (tab, newline …) yields an EMPTY edge token — split keeps
      // the leading empty and, at limit -1, the trailing one too.
      // Replicated exactly: real tokens counted byte-for-byte, plus
      // 0–2 empty edge tokens.
      val base = s.getBaseObject
      val off = s.getBaseOffset
      var lo = 0
      var hi = s.numBytes()
      while (lo < hi &&
        org.apache.spark.unsafe.Platform.getByte(base, off + lo) == ' ') lo += 1
      while (hi > lo &&
        org.apache.spark.unsafe.Platform.getByte(base, off + hi - 1) == ' ') hi -= 1
      // all-space/empty text: trim → "" → [''] — one empty token
      if (hi == lo) return new GenericArrayData(Array(1L, 1L))
      val leading =
        if (isSpace(org.apache.spark.unsafe.Platform.getByte(base, off + lo))) 1 else 0
      val trailing =
        if (isSpace(org.apache.spark.unsafe.Platform.getByte(base, off + hi - 1))) 1 else 0
      val emptyCnt = leading + trailing
      val counts = new java.util.HashMap[UTF8String, Integer]()
      var nReal = 0L
      foreachToken(s) { (b, o, len) =>
        val arr = new Array[Byte](len)
        org.apache.spark.unsafe.Platform.copyMemory(
          b, o, arr, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len)
        val t = UTF8String.fromBytes(arr)
        val prev = counts.get(t)
        counts.put(t, if (prev == null) 1 else prev + 1)
        nReal += 1L
      }
      var max = emptyCnt
      val it = counts.values().iterator()
      while (it.hasNext) { val v = it.next(); if (v > max) max = v }
      new GenericArrayData(Array(max.toLong, nReal + emptyCnt))
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("toptokenstats", this,
        classOf[TopTokenStatsExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Intra-doc duplicate-n-gram coverage in ONE per-row pass: the
    * number of token positions covered by an n-gram occurring ≥ 2
    * times within the doc. Span identity is the
    * SAME positional XXH64 chain as [[PositionalShingleHashesExpr]]
    * (so the output is bit-identical to the relational
    * explode→count→join-back formulation of
    * [[Dedup.intraDocDupNgramFraction]]'s production path — including
    * under a 64-bit collision, which merges the same two span groups
    * in both forms). Replaces a positional-span explode (corpus × ~n
    * rows through an exchange), a grouped count, a join back and a
    * per-doc collect_set with a zero-shuffle projection: duplicate
    * coverage is a doc-local property. O(m log m) per row (one sort of
    * the doc's own span hashes), bounded by the doc's length — the
    * 100k-token tail sorts 100k longs, microseconds; the relational
    * form's even-partitioning advantage only matters when single docs
    * rival a partition, which the token-count gates upstream preclude.
    */
  case class DupNgramStatsExpr(child: Expression, shingleN: Int)
      extends UnaryExpression {
    require(shingleN > 0)
    override def dataType: DataType = LongType
    override def prettyName: String = "dup_ngram_covered"

    def compute(s: UTF8String): Long = {
      var tokenHashes = new Array[Long](16)
      var nTok = 0
      foreachToken(s) { (base, off, len) =>
        if (nTok == tokenHashes.length)
          tokenHashes = java.util.Arrays.copyOf(tokenHashes, nTok * 2)
        tokenHashes(nTok) = XXH64.hashUnsafeBytes(base, off, len, Seed)
        nTok += 1
      }
      val nSh = nTok - shingleN + 1
      if (nSh <= 0) return 0L
      val h = new Array[Long](nSh)
      var i = 0
      while (i < nSh) {
        var hh = Seed
        var j = 0
        while (j < shingleN) { hh = XXH64.hashLong(tokenHashes(i + j), hh); j += 1 }
        h(i) = hh
        i += 1
      }
      // sorted copy → the set of span hashes occurring >= 2 times
      val sorted = h.clone()
      java.util.Arrays.sort(sorted)
      var w = 0
      i = 0
      while (i < nSh) {
        var j = i + 1
        while (j < nSh && sorted(j) == sorted(i)) j += 1
        if (j - i >= 2) { sorted(w) = sorted(i); w += 1 }
        i = j
      }
      if (w == 0) return 0L
      val covered = new Array[Boolean](nTok)
      i = 0
      while (i < nSh) {
        if (java.util.Arrays.binarySearch(sorted, 0, w, h(i)) >= 0) {
          var k = i
          val end = i + shingleN
          while (k < end) { covered(k) = true; k += 1 }
        }
        i += 1
      }
      var c = 0L
      i = 0
      while (i < nTok) { if (covered(i)) c += 1L; i += 1 }
      c
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("dupngramstats", this,
        classOf[DupNgramStatsExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // -------------------------------------------------------------- sketches

  /** Membership probe against a serialized `org.apache.spark.util.sketch
    * .BloomFilter` riding inside the expression (the broadcast-small-side
    * pattern, like [[NearestCellsExpr]]'s centroid matrix): the filter is
    * serialized once with the plan, deserialized once per task, and the
    * per-row probe is a few hash ops — no join, no shuffle. False
    * positives only (never false negatives), so a bloom PRE-filter before
    * an exact join preserves the join's answer while dropping most
    * non-matching rows before the exchange.
    */
  case class BloomMightContainExpr(child: Expression, bloomBytes: Array[Byte])
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    // int keys widen to long at analysis; wrong types fail there, never
    // as a mid-stage ClassCast (the probe is mightContainLong)
    override def inputTypes: Seq[DataType] =
      Seq(LongType)
    override def dataType: DataType = BooleanType
    override def prettyName: String = "bloom_might_contain"

    @transient private lazy val bloom =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bloomBytes))

    def compute(v: Long): Boolean = bloom.mightContainLong(v)

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[Long])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloom", this, classOf[BloomMightContainExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Greedy longest-match vocabulary segmentation ("tokenizer
    * application") — the WordPiece-family inference step (Wu et al. 2016
    * §4.1) over an arbitrary vocab: each whitespace word is consumed left
    * to right, always taking the LONGEST vocab entry matching at the
    * cursor, or one character as an unknown piece when nothing matches.
    * Returns the total piece count; n_pieces / n_words is tokenizer
    * "fertility", the standard vocab-fit metric. The vocab travels inside
    * the expression like NearestCellsExpr's centroid matrix — index
    * metadata, not data — so the scan stays a narrow map.
    */
  case class WordpieceCountExpr(child: Expression, vocab: Seq[String])
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "wordpiece_count"

    @transient private lazy val vocabSet: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String](math.max(16, vocab.size * 2))
      vocab.foreach(s.add)
      s
    }
    @transient private lazy val maxLen: Int =
      if (vocab.isEmpty) 1 else vocab.iterator.map(_.length).max

    // ASCII \s — the class Spark's split("\\s+") and the oracle's RE2
    // '\s' agree on over this corpus
    @inline private def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

    def compute(s: UTF8String): Long = {
      val str = s.toString
      val n = str.length
      var pieces = 0L
      var i = 0
      while (i < n) {
        while (i < n && isWs(str.charAt(i))) i += 1
        var end = i
        while (end < n && !isWs(str.charAt(end))) end += 1
        var pos = i
        while (pos < end) {
          var l = math.min(maxLen, end - pos)
          var step = 1
          var found = false
          while (l >= 1 && !found) {
            if (vocabSet.contains(str.substring(pos, pos + l))) { found = true; step = l }
            l -= 1
          }
          pieces += 1L
          pos += step
        }
        i = end
      }
      pieces
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("wordpiece", this, classOf[WordpieceCountExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // -------------------------------------------------- unigram Viterbi

  /** Viterbi segmentation of ONE word under a unigram piece model
    * (Kudo 2018) — the per-row kernel of [[UnigramLm]]'s hard-EM
    * trainer. `pieces` carries SCALED-INTEGER log-probs (ln rounded to
    * 6 dp × 10⁶, computed driver-side with BigDecimal HALF_UP — the
    * qd29 rounding discipline), so the DP accumulates exact longs and
    * the argmax is bit-reproducible in DuckDB's unrolled-CTE replay:
    * maximize total score; ties → fewer pieces; ties → lexicographically
    * smallest segmentation string (the order is DP-composable: two
    * segmentations of the same prefix first differ at a space-vs-letter
    * position, so appending a common suffix never flips it). String
    * ties compare UTF-16 code units — identical to DuckDB's UTF-8 memcmp
    * for ASCII and the BMP-below-surrogates range this corpus lives in.
    * Returns the pieces space-joined. A character NO piece covers is
    * emitted as its own single-CODE-POINT piece at a large negative
    * penalty (the char-fallback convention of production tokenizers) —
    * total by construction; an astral character (surrogate pair) falls
    * back as the whole two-unit code point, never a lone surrogate, so
    * fallback pieces are always well-formed strings matching the
    * code-point seed. The trainer seeds every single character, so the
    * fallback only fires for foreign vocab/word pairs (spec-pinned,
    * never on the oracle path).
    */
  case class UnigramViterbiExpr(child: Expression, pieces: Seq[(String, Long)])
      extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "unigram_viterbi"

    // far below any real path sum (scores are ≥ -30e6 per piece, words
    // are short), far above Long overflow territory for any word length
    private final val UnknownCharPenalty = -1000000000000L

    @transient private lazy val scoreMap: java.util.HashMap[String, java.lang.Long] = {
      val m = new java.util.HashMap[String, java.lang.Long](math.max(16, pieces.size * 2))
      pieces.foreach { case (p, s) => m.put(p, s) }
      m
    }
    @transient private lazy val maxLen: Int =
      if (pieces.isEmpty) 1 else pieces.iterator.map(_._1.length).max

    def compute(s: UTF8String): UTF8String = {
      val w = s.toString
      val n = w.length
      if (n == 0) return UTF8String.fromString("")
      val score = new Array[Long](n + 1)
      val np = new Array[Int](n + 1)
      val seg = new Array[String](n + 1)
      seg(0) = ""
      var i = 1
      while (i <= n) {
        val lm = math.min(maxLen, i)
        var l = 1
        while (l <= lm) {
          if (seg(i - l) != null) {
            val sc = scoreMap.get(w.substring(i - l, i))
            if (sc != null) {
              val cs = score(i - l) + sc
              val cn = np(i - l) + 1
              val cseg =
                if (seg(i - l).isEmpty) w.substring(i - l, i)
                else seg(i - l) + " " + w.substring(i - l, i)
              if (seg(i) == null || cs > score(i) ||
                  (cs == score(i) && (cn < np(i) ||
                    (cn == np(i) && cseg < seg(i))))) {
                score(i) = cs; np(i) = cn; seg(i) = cseg
              }
            }
          }
          l += 1
        }
        if (seg(i) == null) {
          // char-fallback on the full CODE POINT ending here (every
          // seg(j), j < i, is set by induction — this branch makes
          // every position total). For non-BMP input the code point is
          // TWO UTF-16 units: falling back a single unit would emit a
          // lone surrogate, diverging from the code-point-based seed
          // (`.` regex) and the DuckDB oracle's code-point substr —
          // so a low surrogate preceded by its high half falls back
          // two units, emitting the astral character whole.
          val start =
            if (i >= 2 && Character.isLowSurrogate(w.charAt(i - 1)) &&
                Character.isHighSurrogate(w.charAt(i - 2))) i - 2
            else i - 1
          val ch = w.substring(start, i)
          score(i) = score(start) + UnknownCharPenalty
          np(i) = np(start) + 1
          seg(i) = if (seg(start).isEmpty) ch else seg(start) + " " + ch
        }
        i += 1
      }
      UTF8String.fromString(seg(n))
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("unigramViterbi", this,
        classOf[UnigramViterbiExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // ---------------------------------------------------- BPE merge encode

  /** Shared encode kernel for the BPE merge-list expressions: apply a
    * rank-ordered merge list to ONE whitespace-free word, exactly
    * replaying [[Bpe.applyMerges]]'s literal `replace` chain (code-point
    * seed; each rank applied fully, greedy left-to-right non-overlapping,
    * before the next; an absent rank is the identity, exactly as
    * `replace` of an absent pattern is).
    *
    * The chain equivalence that makes the rank-jump loop exact: if the
    * minimal merge rank present in the current state is r > last, every
    * rank in (last, r) is a no-op in the chain too — the state cannot
    * change while only no-ops apply — so jumping straight to r replays
    * the chain verbatim, including the subtle case where applying rank r
    * RE-creates a pair of some rank q < r (the chain has already passed
    * q and never revisits it; the `> last` guard encodes exactly that).
    * This is what makes the kernel safe to swap for the literal chain at
    * ANY K: the chain's plan grows (and Janino recompiles) linearly in
    * K, while here the merge list rides the closure as a hash map and
    * per-word cost is O(pieces² ) scans of it — flat in K (BpeSpec pins
    * kernel ≡ chain; qd68/qd73 pin it against the unrolled SQL oracle).
    *
    * Duplicate pairs in a user-supplied list keep their FIRST rank
    * (training can never emit a duplicate: a selected pair's count
    * drops to zero and new adjacencies always involve a newly created
    * symbol, so re-selection is structurally impossible).
    */
  private[graft] final class BpeMergeKernel(merges: Seq[(String, String)])
      extends Serializable {
    private val mergesArr: Array[(String, String)] = merges.toArray
    private val rankOf: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](math.max(16, merges.size * 2))
      var i = 0
      while (i < mergesArr.length) {
        val (l, r) = mergesArr(i)
        m.putIfAbsent(l + " " + r, Integer.valueOf(i + 1))
        i += 1
      }
      m
    }

    /** Merged symbol array + live length; the two public views share it. */
    private def run(word: String): (Array[String], Int) = {
      val n = word.length
      val syms = new Array[String](math.max(1, n))
      var len = 0
      var i = 0
      while (i < n) { // code-point seed (the `(.)` regex unit)
        val w = Character.charCount(word.codePointAt(i))
        syms(len) = word.substring(i, i + w)
        len += 1
        i += w
      }
      var last = 0
      var done = len < 2
      while (!done) {
        var best = Integer.MAX_VALUE
        var j = 0
        while (j < len - 1) {
          val r = rankOf.get(syms(j) + " " + syms(j + 1))
          if (r != null && r > last && r < best) best = r.intValue()
          j += 1
        }
        if (best == Integer.MAX_VALUE) done = true
        else {
          val (l, r) = mergesArr(best - 1)
          var read = 0
          var write = 0
          while (read < len) {
            if (read < len - 1 && syms(read) == l && syms(read + 1) == r) {
              syms(write) = l + r
              read += 2
            } else {
              syms(write) = syms(read)
              read += 1
            }
            write += 1
          }
          len = write
          last = best
          done = len < 2
        }
      }
      (syms, len)
    }

    def count(word: String): Long = run(word)._2.toLong

    def segment(word: String): String = {
      val (syms, len) = run(word)
      if (len == 0) ""
      else {
        val sb = new java.lang.StringBuilder(word.length + len)
        var i = 0
        while (i < len) {
          if (i > 0) sb.append(' ')
          sb.append(syms(i))
          i += 1
        }
        sb.toString
      }
    }
  }

  /** Piece count of ONE word under a frozen BPE merge list — the encode
    * kernel of [[Bpe.encodeFertility]] and the streaming
    * [[graft.streaming.FertilityDrift]] monitor. Plan size and codegen
    * cost are CONSTANT in the merge count (the list rides as a
    * reference object), unlike the literal K-deep `replace` chain it
    * replaces, which at production vocabularies (K = 32k merges) blows
    * up analysis and Janino long before the data does.
    */
  case class BpeCountExpr(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "bpe_piece_count"

    @transient private lazy val kernel = new BpeMergeKernel(merges)

    def compute(s: UTF8String): Long = kernel.count(s.toString)

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bpeCount", this, classOf[BpeCountExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Space-joined BPE segmentation of ONE word — [[BpeCountExpr]]'s
    * string view, byte-identical to `trim()` of the delimiter-doubled
    * `toks` column [[Bpe.applyMerges]] produces (BpeSpec pins it).
    */
  case class BpeSegmentExpr(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "bpe_segment"

    @transient private lazy val kernel = new BpeMergeKernel(merges)

    def compute(s: UTF8String): UTF8String =
      UTF8String.fromString(kernel.segment(s.toString))

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bpeSegment", this, classOf[BpeSegmentExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // ------------------------------------------------------ NFC normalize

  /** Unicode NFC normalization (canonical composition) as a codegen'd
    * expression — Spark ships no `normalize` builtin, yet canonical
    * form is load-bearing for every hash-based dedup/fingerprint op
    * here: "Café" composed and "Café" decomposed are byte-distinct
    * (different xxhash64, different shingles, different MinHash) while
    * being the SAME text to a reader, so un-normalized corpora leak
    * duplicates straight past qd01/qd05/qd09. `java.text.Normalizer`
    * implements the same Unicode NFC as DuckDB's `nfc_normalize`
    * (both track the UAX #15 spec), which is what makes the qd48
    * oracle replay exact. Skips the (common) already-NFC fast path via
    * `Normalizer.isNormalized` — no allocation for ASCII corpora.
    */
  case class NfcNormalizeExpr(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "nfc_normalize"

    def compute(s: UTF8String): UTF8String = {
      val str = s.toString
      if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
      else UTF8String.fromString(
        java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("nfc", this, classOf[NfcNormalizeExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // ---------------------------------------------------- Compression ratio

  /** zlib-deflate compression ratio of the UTF-8 text — the classic
    * templating/repetition quality signal (used by Dolma's and
    * RedPajama's quality batteries alongside the Gopher rules):
    * boilerplate-heavy or machine-generated text compresses far below
    * natural prose. ratio = deflate_len / raw_len, so lower = more
    * redundant; empty text reports 1.0 (incompressible by convention).
    * Deterministic for a fixed level (6) and input bytes, but NOT
    * SQL-replayable (DuckDB ships no deflate) — its query entry is
    * rows-only with TextAnalysisSpec contracts, the qa01 pattern.
    * Cost: one deflate pass per row; the Deflater (a native zlib
    * handle — expensive to create) and scratch buffer are ThreadLocal,
    * reset between rows, so the hot path allocates nothing.
    */
  case class DeflateRatioExpr(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "deflate_ratio"

    def compute(s: UTF8String): Double = {
      val raw = s.getBytes
      if (raw.length == 0) return 1.0
      val d = DeflateRatioExpr.deflaters.get()
      d.reset()
      d.setInput(raw)
      d.finish()
      val buf = DeflateRatioExpr.scratch.get()
      var compressed = 0L
      while (!d.finished()) compressed += d.deflate(buf)
      compressed.toDouble / raw.length
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("deflate", this, classOf[DeflateRatioExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object DeflateRatioExpr {
    // one native zlib handle + scratch buffer per executor thread,
    // reset between rows — never leaked (tied to thread lifetime,
    // the standard posture for per-task native scratch state)
    private val deflaters = new ThreadLocal[java.util.zip.Deflater] {
      override def initialValue(): java.util.zip.Deflater =
        new java.util.zip.Deflater(6, true)
    }
    private val scratch = new ThreadLocal[Array[Byte]] {
      override def initialValue(): Array[Byte] = new Array[Byte](4096)
    }
  }

  // ---------------------------------------------------- Flat JSON parse

  /** `from_json(child, schema)` over a flat schema, answered in one byte
    * scan of the record when its token shapes fix the result. Spark's
    * parse — a `JsonToStructs` with this schema, no options and the
    * session time zone, exactly what `from_json` analyzes to — is held
    * as the fallback rather than as a child: a `CodegenFallback` anywhere
    * in a node's expressions keeps the whole node out of whole-stage
    * codegen, and `JsonToStructs` decodes each record through a fresh
    * `Reader` into Jackson.
    *
    * The kernel owns a record when `schema` has only string, int and
    * boolean fields, none named as the corrupt-record column, and the
    * record is: one object after optional whitespace; quoted keys and
    * string values of printable ASCII with no escapes; values that are
    * strings, ints of at most 9 digits (`-?(0|[1-9][0-9]{0,8})`, not
    * `-0`), `true`, `false` or `null`, each of its field's type unless
    * `null`; no schema field twice; only whitespace after the closing
    * brace; and fewer than 1,000 bytes, so no token can reach Jackson's
    * 1,000-char number limit. For such a record Jackson's result is
    * fixed — named fields set, unknown ones skipped, the rest null — so
    * the kernel builds it directly. Every other record (blank lines and
    * their null struct, malformed or truncated lines, type mismatches and
    * their partial results, escapes, non-ASCII, single quotes, trailing
    * bytes) goes to the fallback unchanged, so the two are equal by
    * construction.
    */
  case class FlatJsonExpr(child: Expression, schema: StructType, timeZoneId: Option[String] = None)
      extends UnaryExpression with TimeZoneAwareExpression {
    require(schema.length <= 64 && schema.fields.forall(f => f.metadata == Metadata.empty &&
      (f.dataType == StringType || f.dataType == IntegerType || f.dataType == BooleanType)),
      s"flat_json takes a flat schema of string, int and boolean fields: $schema")

    override val dataType: DataType = StructType(schema.fields.map(_.copy(nullable = true)))
    override def nullable: Boolean = true
    override def prettyName: String = "flat_json"
    override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
      copy(timeZoneId = Some(timeZoneId))

    @transient private lazy val fallback =
      JsonToStructs(schema, Map.empty, BoundReference(0, StringType, nullable = true), timeZoneId)

    /** The schema's field names as bytes, or null when the kernel owns no
      * record: a field named as the corrupt-record column is from_json's.
      */
    @transient private lazy val names: Array[Array[Byte]] =
      if (schema.fieldNames.contains(SQLConf.get.columnNameOfCorruptRecord)) null
      else schema.fieldNames.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    @transient private lazy val types: Array[DataType] = schema.fields.map(_.dataType)

    /** The parse of a non-null record: the kernel's row, or `from_json`'s
      * when the kernel does not own the record.
      */
    def compute(s: UTF8String): InternalRow = {
      val row = if (names == null) null else scan(s)
      if (row != null) row else fallback.nullSafeEval(s).asInstanceOf[InternalRow]
    }

    /** The row for `s`, or null when `s` is not of the owned shapes. */
    private[graft] def scan(s: UTF8String): InternalRow = {
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val n = s.numBytes()
      if (n >= MaxFlatJsonBytes) return null
      // past the end reads as NUL, which no owned shape contains
      @inline def at(i: Int): Char =
        if (i < n) (Platform.getByte(base, off + i) & 0xff).toChar else '\u0000'
      @inline def ws(i0: Int): Int = {
        var i = i0
        while ({ val b = at(i); b == ' ' || b == '\n' || b == '\r' || b == '\t' }) i += 1
        i
      }
      /** End (exclusive) of a printable-ASCII, escape-free string whose
        * opening quote is at `i - 1`, or -1.
        */
      @inline def strEnd(i0: Int): Int = {
        var i = i0
        var b = at(i)
        while (b >= 0x20 && b < 0x7f && b != '"' && b != '\\') { i += 1; b = at(i) }
        if (b == '"') i else -1
      }
      @inline def literal(i: Int, word: String): Boolean = {
        var k = 1
        while (k < word.length && at(i + k) == word.charAt(k)) k += 1
        k == word.length
      }
      val values = new Array[Any](names.length)
      var seen = 0L
      var i = ws(0)
      if (at(i) != '{') return null
      i = ws(i + 1)
      if (at(i) == '}') i += 1
      else {
        var open = true
        while (open) {
          if (at(i) != '"') return null
          val ke = strEnd(i + 1)
          if (ke < 0) return null
          val field = fieldOf(base, off + i + 1, ke - i - 1)
          i = ws(ke + 1)
          if (at(i) != ':') return null
          i = ws(i + 1)
          val want = if (field < 0) null else types(field)
          var v: Any = null
          at(i) match {
            case '"' =>
              val e = strEnd(i + 1)
              if (e < 0 || (want != null && want != StringType)) return null
              val bytes = new Array[Byte](e - i - 1)
              Platform.copyMemory(base, off + i + 1, bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length)
              v = UTF8String.fromBytes(bytes)
              i = e + 1
            case 't' | 'f' =>
              val word = if (at(i) == 't') "true" else "false"
              if (!literal(i, word) || (want != null && want != BooleanType)) return null
              v = word.length == 4
              i += word.length
            case 'n' =>
              if (!literal(i, "null")) return null
              i += 4
            case b if b == '-' || (b >= '0' && b <= '9') =>
              if (want != null && want != IntegerType) return null
              val neg = b == '-'
              var j = if (neg) i + 1 else i
              val d0 = j
              var x = 0
              while (at(j) >= '0' && at(j) <= '9') { x = x * 10 + (at(j) - '0'); j += 1 }
              val digits = j - d0
              if (digits == 0 || digits > 9 || (at(d0) == '0' && (digits > 1 || neg))) return null
              v = if (neg) -x else x
              i = j
            case _ => return null
          }
          // a value must end at whitespace, a comma or the closing brace:
          // `1.5`, `1e3`, `truex` and the like are Jackson's to judge
          i = ws(i)
          if (field >= 0) {
            if ((seen & (1L << field)) != 0) return null
            seen |= 1L << field
            values(field) = v
          }
          at(i) match {
            case ',' => i = ws(i + 1)
            case '}' => i += 1; open = false
            case _ => return null
          }
        }
      }
      if (ws(i) != n) return null
      new GenericInternalRow(values)
    }

    /** The schema field whose name is the `len` bytes at `addr`, or -1. */
    private def fieldOf(base: Object, addr: Long, len: Int): Int = {
      var f = 0
      while (f < names.length) {
        val name = names(f)
        if (name.length == len) {
          var k = 0
          while (k < len && name(k) == Platform.getByte(base, addr + k)) k += 1
          if (k == len) return f
        }
        f += 1
      }
      -1
    }

    override protected def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("flatJson", this, classOf[FlatJsonExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c); ${ev.isNull} = ${ev.value} == null;")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Records at or over this many bytes go to `from_json`: Jackson's
    * default number length limit is 1,000 chars.
    */
  private final val MaxFlatJsonBytes = 1000

  // -------------------------------------------------------------- Columns

  import GraftBridge.{column, expression}

  /** `from_json(record, schema)` through [[FlatJsonExpr]]. */
  def flatJson(record: Column, schema: StructType): Column =
    column(FlatJsonExpr(expression(record), schema))

  def nfcNormalize(c: Column): Column = column(NfcNormalizeExpr(expression(c)))

  def deflateRatio(c: Column): Column = column(DeflateRatioExpr(expression(c)))

  def simhash64(c: Column): Column = column(SimHash64Expr(expression(c)))

  def minhashSig(c: Column, k: Int, shingleN: Int): Column =
    column(MinHashSigExpr(expression(c), k, shingleN))

  def vecDot(a: Column, b: Column): Column =
    column(VecDotExpr(expression(a), expression(b)))

  def shingleHashes(c: Column, shingleN: Int): Column =
    column(ShingleHashesExpr(expression(c), shingleN))

  def positionalShingleHashes(c: Column, shingleN: Int): Column =
    column(PositionalShingleHashesExpr(expression(c), shingleN))

  def sortedJaccard(a: Column, b: Column): Column =
    column(SortedJaccardExpr(expression(a), expression(b)))

  def portableMinhashSig(c: Column, k: Int, shingleN: Int): Column =
    column(PortableMinHashExpr(expression(c), k, shingleN))

  def portableSimhash(c: Column): Column =
    column(PortableSimHashExpr(expression(c)))

  def nearestCells(v: Column, centroids: Array[Array[Double]], n: Int): Column =
    column(NearestCellsExpr(expression(v), centroids, n))

  def bloomMightContain(c: Column, bloomBytes: Array[Byte]): Column =
    column(BloomMightContainExpr(expression(c), bloomBytes))

  def md5Bucket(c: Column, buckets: Int): Column =
    column(Md5BucketExpr(expression(c), buckets))

  def wordpieceCount(c: Column, vocab: Seq[String]): Column =
    column(WordpieceCountExpr(expression(c), vocab))

  def unigramViterbi(c: Column, pieces: Seq[(String, Long)]): Column =
    column(UnigramViterbiExpr(expression(c), pieces))

  def bpePieceCount(c: Column, merges: Seq[(String, String)]): Column =
    column(BpeCountExpr(expression(c), merges))

  def bpeSegment(c: Column, merges: Seq[(String, String)]): Column =
    column(BpeSegmentExpr(expression(c), merges))

  def md5BucketBigrams(c: Column, buckets: Int): Column =
    column(Md5BucketBigramsExpr(expression(c), buckets))

  def md5BucketTokens(c: Column, buckets: Int): Column =
    column(Md5BucketTokensExpr(expression(c), buckets))

  def xxBucketBigrams(c: Column, buckets: Int): Column =
    column(XxBucketBigramsExpr(expression(c), buckets))

  def topTokenStats(c: Column): Column =
    column(TopTokenStatsExpr(expression(c)))

  def hashedFeatureArrays(c: Column, uniDim: Int, biDim: Int): Column =
    column(HashedFeatureArraysExpr(expression(c), uniDim, biDim))

  def decimalDot(feats: Column, xs: Column,
      weights: Array[java.math.BigDecimal]): Column =
    column(DecimalDotExpr(expression(feats), expression(xs),
      weights.toIndexedSeq))

  def dupNgramStats(c: Column, shingleN: Int): Column =
    column(DupNgramStatsExpr(expression(c), shingleN))

  def bigramCounts(c: Column): Column =
    column(BigramCountsExpr(expression(c)))

  def tokenCounts(c: Column): Column =
    column(TokenCountsExpr(expression(c)))

  def tokenCountOf(c: Column): Column =
    column(TokenCountExpr(expression(c)))

  def qualityStats(c: Column, stops: Seq[String]): Column =
    column(QualityStatsExpr(expression(c), stops))

  def wordHits(c: Column, words: Seq[String]): Column =
    column(WordHitsExpr(expression(c), words))

  def winnowFingerprints(c: Column, k: Int, w: Int): Column =
    column(WinnowExpr(expression(c), k, w))

  /** Whole-document robust winnowing (Schleimer et al. 2003) in ONE
    * per-row pass — the kernel under [[Dedup.winnowFingerprints]]'s
    * default path. Value-identical to the relational formulation the
    * qd51 oracle replays (md5 over space-joined word k-grams, per-window
    * min with RIGHTMOST tie — DedupSpec pins kernel ≡ relational), but
    * with NO gram explode and NO window shuffle: tokens → gram digests →
    * a monotonic-deque sliding minimum (amortized O(1) per gram; the
    * composite-key window min is O(w) comparisons per gram and ships
    * every gram row through an Exchange first) → the distinct selected
    * (fp_pos, fp_hash) pairs, deduplicated in place.
    */
  case class WinnowExpr(child: Expression, k: Int, w: Int)
      extends UnaryExpression {
    require(k >= 1 && w >= 2, s"WinnowExpr: need k >= 1, w >= 2 (got k=$k, w=$w)")

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("fp_pos", LongType, nullable = false),
      StructField("fp_hash", StringType, nullable = false))),
      containsNull = false)
    override def prettyName: String = "winnow_fingerprints"

    private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
      var i = 0
      while (i < a.length) {
        val x = a(i) & 0xff
        val y = b(i) & 0xff
        if (x != y) return x < y
        i += 1
      }
      false
    }

    private final val HexDigits = "0123456789abcdef".getBytes

    private def hex32(d: Array[Byte]): UTF8String = {
      val out = new Array[Byte](32)
      var i = 0
      while (i < 16) {
        out(2 * i) = HexDigits((d(i) >> 4) & 0xf)
        out(2 * i + 1) = HexDigits(d(i) & 0xf)
        i += 1
      }
      UTF8String.fromBytes(out)
    }

    def compute(s: UTF8String): ArrayData = {
      val toks = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      foreachToken(s) { (base, off, len) =>
        val b = new Array[Byte](len)
        org.apache.spark.unsafe.Platform.copyMemory(
          base, off, b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len)
        toks += b
      }
      val nGr = toks.length - k + 1
      if (nGr < w) return new GenericArrayData(Array.empty[Any])
      // gram digests: md5 of the k tokens joined by single spaces —
      // byte-identical to md5(concat_ws(" ", slice(tokens, i+1, k)))
      val md = java.security.MessageDigest.getInstance("MD5")
      val digests = new Array[Array[Byte]](nGr)
      var i = 0
      while (i < nGr) {
        md.reset()
        var j = 0
        while (j < k) {
          if (j > 0) md.update(' '.toByte)
          md.update(toks(i + j))
          j += 1
        }
        digests(i) = md.digest()
        i += 1
      }
      // monotonic deque sliding min; popping EQUAL values keeps the
      // rightmost occurrence — exactly the robust-winnowing tie rule
      val deque = new Array[Int](nGr)
      var head = 0
      var tail = 0 // exclusive
      val selected = new Array[Boolean](nGr)
      var j = 0
      while (j < nGr) {
        while (tail > head && !unsignedLess(digests(deque(tail - 1)), digests(j)))
          tail -= 1
        deque(tail) = j
        tail += 1
        if (j >= w - 1) {
          val start = j - w + 1
          while (deque(head) < start) head += 1
          selected(deque(head)) = true
        }
        j += 1
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      i = 0
      while (i < nGr) {
        if (selected(i))
          out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](i.toLong, hex32(digests(i))))
        i += 1
      }
      new GenericArrayData(out.toArray)
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("winnow", this, classOf[WinnowExpr].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }
}
