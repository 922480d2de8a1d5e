package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** The shingle loop behind [[expressions.WordShingles]], kept as a
  * top-level object so whole-stage-generated Java can reach it through
  * a static forwarder (`graft.plans.ShingleKernel.compute`). Works on
  * [[UTF8String]] end to end — no UTF-8 decode/encode per row, no
  * java.lang.String allocation per word. */
object ShingleKernel {
  private val Space = UTF8String.fromString(" ")

  /** Distinct n-word shingles in first-occurrence order; empty array
    * when the text has fewer than n words. Split semantics match
    * Spark's `split(text, ' ')` with unlimited limit (trailing empty
    * strings kept). */
  def compute(input: UTF8String, n: Int): ArrayData = {
    val words = input.split(Space, -1)
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](words.length * 2)
    var i = 0
    while (i <= words.length - n) {
      seen.add(UTF8String.concatWs(
        Space, java.util.Arrays.copyOfRange(words, i, i + n): _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** ALL n-word shingle occurrences in order (multiplicity kept) —
    * the counting contract for frequency models ([[graft.operators
    * .TextAnalysis.bigramLmScore]]), where the distinct-set contract
    * of [[compute]] would under-count repeated n-grams. */
  def computeAll(input: UTF8String, n: Int): ArrayData = {
    val words = input.split(Space, -1)
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](words.length - n + 1)
    var i = 0
    while (i <= words.length - n) {
      out(i) = UTF8String.concatWs(
        Space, java.util.Arrays.copyOfRange(words, i, i + n): _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Morton bit-spreading behind [[expressions.ZOrder2]], top-level so
  * generated Java reaches it through a static forwarder (same shape
  * as [[ShingleKernel]]). The 5-shift magic-mask spread is the
  * classic public-domain "interleave by binary magic numbers"
  * technique (Bit Twiddling Hacks). */
object ZOrderKernel {
  /** Spread the low 32 bits of v to the even bit positions. */
  def spread(v0: Long): Long = {
    var v = v0 & 0xffffffffL
    v = (v | (v << 16)) & 0x0000ffff0000ffffL
    v = (v | (v << 8)) & 0x00ff00ff00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  /** z(x, y): bit i of x → 2i, bit i of y → 2i+1. */
  def interleave(x: Long, y: Long): Long =
    spread(x) | (spread(y) << 1)
}

/** The per-document repetition loop behind
  * [[expressions.RepetitionStats]] — one pass over the word array
  * with a bigram count map, reachable from generated code through a
  * static forwarder (same shape as [[ShingleKernel]]). */
object RepetitionKernel {
  private val Space = UTF8String.fromString(" ")

  /** [n_words, n_distinct_words, n_bigrams, n_distinct_bigrams,
    * max_bigram_freq] of a space-separated string. Split semantics
    * match Spark's `split(text, ' ')` (trailing empties kept). */
  def compute(input: UTF8String): ArrayData = {
    val words = input.split(Space, -1)
    val n = words.length
    val distinct = new java.util.HashSet[UTF8String](n * 2)
    var i = 0
    while (i < n) { distinct.add(words(i)); i += 1 }
    val bigrams = new java.util.HashMap[UTF8String, Long](n * 2)
    var maxFreq = 0L
    i = 0
    while (i < n - 1) {
      val bg = UTF8String.concatWs(Space, words(i), words(i + 1))
      val c = bigrams.merge(bg, 1L, (a, b) => a + b)
      if (c > maxFreq) maxFreq = c
      i += 1
    }
    new GenericArrayData(Array[Any](
      n.toLong, distinct.size.toLong,
      math.max(0, n - 1).toLong, bigrams.size.toLong, maxFreq))
  }
}

/** The winnowing loop behind [[expressions.WinnowFingerprints]] —
  * static forwarder shape like [[ShingleKernel]]. */
object WinnowKernel {
  private val P = 1000000007L

  /** MOSS-style winnowing: the sorted distinct set of window minima
    * over the polynomial rolling hashes of all character k-grams
    * (codepoint-based, matching [[RollingFingerprint]]'s fold). Every
    * window of `w` consecutive k-gram hashes contributes its minimum
    * VALUE (value-min is tie-unambiguous, unlike position rules), so
    * two documents sharing a long-enough substring share a selected
    * fingerprint regardless of position. Texts shorter than k chars
    * select nothing; otherwise at least one window (of up to w grams)
    * is guaranteed. */
  def compute(input: UTF8String, k: Int, w: Int): ArrayData = {
    val s = input.toString
    // codepoint array (zh fixtures: k-grams must count codepoints,
    // not UTF-16 chars — same walk as RollingFingerprint)
    val cps = new Array[Int](s.codePointCount(0, s.length))
    var ci = 0; var si = 0
    while (si < s.length) {
      val cp = s.codePointAt(si); cps(ci) = cp; ci += 1
      si += Character.charCount(cp)
    }
    val nGrams = cps.length - k + 1
    if (nGrams <= 0) return new GenericArrayData(Array.empty[Any])
    val h = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      var acc = 0L; var j = 0
      while (j < k) { acc = (acc * 31L + cps(i + j)) % P; j += 1 }
      h(i) = acc
      i += 1
    }
    val nWin = math.max(1, nGrams - w + 1)
    val sel = new java.util.TreeSet[java.lang.Long]()
    i = 0
    while (i < nWin) {
      var m = h(i); var j = i + 1
      val end = math.min(i + w, nGrams)
      while (j < end) { if (h(j) < m) m = h(j); j += 1 }
      sel.add(m)
      i += 1
    }
    val out = new Array[Any](sel.size)
    val it = sel.iterator()
    var oi = 0
    while (it.hasNext) { out(oi) = it.next().longValue(); oi += 1 }
    new GenericArrayData(out)
  }
}

/** The per-position gram-hash loop behind
  * [[expressions.GramFingerprints]] — a static forwarder like
  * [[WinnowKernel]], and the same codepoint polynomial fold, but it
  * returns ALL positions' k-gram fingerprints (no window selection)
  * and computes them with the O(n) ROLLING recurrence instead of
  * O(n·k) per-position refolds: h' = ((h − cp_out·31^(k−1)) · 31 +
  * cp_in) mod P. Modular subtraction keeps every value identical to
  * the direct fold, so an engine replaying the naive per-position
  * fold (the DuckDB oracle) lands on the same longs bit-for-bit. */
object GramKernel {
  private val P = 1000000007L

  def compute(input: UTF8String, k: Int): ArrayData = {
    val s = input.toString
    val cps = new Array[Int](s.codePointCount(0, s.length))
    var ci = 0; var si = 0
    while (si < s.length) {
      val cp = s.codePointAt(si); cps(ci) = cp; ci += 1
      si += Character.charCount(cp)
    }
    val nGrams = cps.length - k + 1
    if (nGrams <= 0) return new GenericArrayData(Array.empty[Any])
    var pw = 1L // 31^(k-1) mod P
    var j = 1
    while (j < k) { pw = (pw * 31L) % P; j += 1 }
    val out = new Array[Any](nGrams)
    var h = 0L
    j = 0
    while (j < k) { h = (h * 31L + cps(j)) % P; j += 1 }
    out(0) = h
    var i = 1
    while (i < nGrams) {
      val drop = (cps(i - 1) * pw) % P
      h = (((h + P - drop) % P) * 31L + cps(i + k - 1)) % P
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** WINNOW-SAMPLED positions with their fingerprints, packed one
    * long each as `(pos << 31) | fp` (fp < P < 2³⁰, so the pack is
    * lossless): position p is emitted iff its rolling k-gram hash is
    * the MINIMUM of at least one window of `w` consecutive grams —
    * the MOSS winnowing rule, kept per-POSITION instead of
    * [[WinnowKernel]]'s distinct value set. Selection is a pure
    * function of gram CONTENT and its w-neighborhood, so two
    * occurrences of a repeated substring of length ≥ k + w − 1 both
    * select the content-identical min gram of any window that fits
    * inside the repeat (the detection guarantee
    * [[graft.operators.TextAnalysis.repeatedSpansSampled]] pins), and
    * every window of w grams selects ≥ 1 position (density bound
    * ~2/(w+1)) — the per-position exchange shrinks ~w/2× with no
    * shuffle spent on the sampling itself. Ties on the window min
    * select every achieving position (value rules, never position
    * rules — position tie-breaks would destroy content determinism
    * across occurrences at different offsets). */
  def computeWinnowedPos(input: UTF8String, k: Int, w: Int): ArrayData = {
    val all = compute(input, k)
    val nGrams = all.numElements()
    if (nGrams == 0) return all
    val h = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) { h(i) = all.getLong(i); i += 1 }
    val sel = new Array[Boolean](nGrams)
    val nWin = math.max(1, nGrams - w + 1)
    i = 0
    while (i < nWin) {
      val end = math.min(i + w, nGrams)
      var m = h(i); var j = i + 1
      while (j < end) { if (h(j) < m) m = h(j); j += 1 }
      j = i
      while (j < end) { if (h(j) == m) sel(j) = true; j += 1 }
      i += 1
    }
    var n = 0
    i = 0
    while (i < nGrams) { if (sel(i)) n += 1; i += 1 }
    val out = new Array[Any](n)
    var oi = 0
    i = 0
    while (i < nGrams) {
      if (sel(i)) { out(oi) = (i.toLong << 31) | h(i); oi += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** The per-document hashed bag-of-words loop behind
  * [[expressions.HashedBow]]: split on single spaces (PRESERVING
  * empty tokens — the exact `split(text, " ")` contract, so "" is one
  * empty token and double spaces yield empties), fingerprint each
  * token with the codepoint polynomial fold, and count tokens per
  * `fp mod buckets` cell. One O(tokens) pass per row replacing BOTH
  * the (doc, bucket) explode/group-by exchange of the original
  * docVectors plan AND the O(buckets × tokens) interpreted nested-HOF
  * per-row formulation (transform∘filter is CodegenFallback — the
  * 10× scale probe measured it in MINUTES where this kernel scans). */
object HashedBowKernel {
  private val P = 1000000007L

  def compute(input: UTF8String, buckets: Int): ArrayData = {
    val s = input.toString
    val counts = new Array[Double](buckets)
    var start = 0
    var i = 0
    val n = s.length
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        // token = s[start, i): fold its codepoints
        var h = 0L
        var j = start
        while (j < i) {
          val cp = s.codePointAt(j)
          h = (h * 31L + cp) % P
          j += Character.charCount(cp)
        }
        counts((h % buckets).toInt) += 1.0
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(counts.map(Double.box(_): Any))
  }
}

/** The greedy left-to-right BPE merge pass behind
  * [[expressions.BpeMergeRound]]: symbols arrive space-joined, every
  * leftmost non-overlapping adjacent (a, b) pair is replaced by the
  * concatenation a+b. Equivalent to the string-accumulator fold the
  * DuckDB oracle replays with list_reduce (a freshly merged element
  * a+b can never equal a — b is non-empty — so the fold's
  * trailing-token test reproduces exactly the scan-and-consume
  * greedy walk). */
object BpeMergeKernel {
  def compute(syms: UTF8String, a: UTF8String, b: UTF8String): UTF8String = {
    val parts = syms.split(UTF8String.fromString(" "), -1)
    if (parts.length < 2) return syms
    val out = new java.util.ArrayList[UTF8String](parts.length)
    var i = 0
    while (i < parts.length) {
      if (i + 1 < parts.length && parts(i).equals(a) && parts(i + 1).equals(b)) {
        out.add(UTF8String.concat(a, b))
        i += 2
      } else {
        out.add(parts(i))
        i += 1
      }
    }
    UTF8String.concatWs(UTF8String.fromString(" "),
      out.toArray(new Array[UTF8String](out.size)): _*)
  }
}

/** Nearest-center scan behind [[expressions.ArgminCenters]], as a
  * static forwarder reachable from generated code (the
  * [[ShingleKernel]] pattern). Arithmetic is bit-identical to k
  * [[expressions.SqDist]] instances folded through `array_min` over
  * (dist, cid) structs — (x−y)² summed left-to-right per dimension,
  * strict `<` so the LOWEST cid wins ties, NaN ordered greatest
  * (Spark's double ordering) — but the whole k×dim loop is ONE
  * kernel call and the centers ride along as ONE flat double[]
  * reference instead of k literal array nodes: the per-round plan
  * of an iterative fit shrinks from ~k·dim literals to one
  * expression, which is what made 10-round exact Lloyd spend more
  * time ANALYZING plans than running them. */
object ArgminKernel {
  def compute(vec: ArrayData, flat: Array[Double], k: Int, dim: Int): InternalRow =
    if (vec.numElements() != dim) null else compute(vec, 0, flat, k, dim)

  /** [[compute]] over the components [from, from + dim) of `vec`, which
    * the caller has checked it holds. */
  def compute(vec: ArrayData, from: Int, flat: Array[Double], k: Int, dim: Int): InternalRow = {
    var bestCid = 0
    var bestD = 0.0
    var c = 0
    while (c < k) {
      val off = c * dim
      var s = 0.0
      var i = 0
      while (i < dim) { val d = vec.getDouble(from + i) - flat(off + i); s += d * d; i += 1 }
      if (c == 0 || s < bestD ||
          (java.lang.Double.isNaN(bestD) && !java.lang.Double.isNaN(s))) {
        bestD = s; bestCid = c
      }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestCid, bestD))
  }
}

/** Custom Catalyst expressions for kernels where the built-in
  * higher-order functions are semantically sufficient but too slow:
  * HOF lambdas are evaluated by interpretation per element, and
  * Catalyst inlines used-once projections into downstream lambdas,
  * multiplying that cost. A compiled per-row loop keeps the operator
  * shuffle-free AND cheap — the property that matters at 100 TB, where
  * the alternative (window/explode formulations) costs an extra full
  * shuffle of the token stream.
  */
object expressions {

  /** Distinct word n-gram shingles of a space-separated string.
    * Equivalent to (but ~10× faster than) the HOF formulation
    * `array_distinct(transform(sequence(0, size(w)-n), i ->
    * concat_ws(' ', w[i], …, w[i+n-1])))`; first-occurrence order,
    * empty array for texts shorter than n words.
    *
    * Codegen: `doGenCode` emits a static call into [[ShingleKernel]]
    * (Spark's own `StaticInvoke` shape for loop-heavy kernels) — the
    * expression participates in whole-stage codegen, so the scan →
    * shingle → explode pipeline of the dedup queries stays one fused
    * stage, while the string loop itself remains ONE JIT-compiled JVM
    * method instead of janino-inlined source. */
  case class WordShingles(child: Expression, n: Int, distinct: Boolean = true)
      extends UnaryExpression {
    require(n >= 1, "shingle size must be >= 1")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String =
      if (distinct) "word_shingles" else "word_shingles_all"

    override def nullSafeEval(input: Any): Any =
      if (distinct) ShingleKernel.compute(input.asInstanceOf[UTF8String], n)
      else ShingleKernel.computeAll(input.asInstanceOf[UTF8String], n)

    // No generated locals → no freshName needs; `n` and the kernel
    // choice are constructor constants, embedded as literals.
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val kernel = if (distinct) "compute" else "computeAll"
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.plans.ShingleKernel.$kernel($a, $n);")
    }

    override protected def withNewChildInternal(newChild: Expression): WordShingles =
      copy(child = newChild)
  }

  /** Squared Euclidean distance between two array<double> columns,
    * with real whole-stage codegen (`doGenCode` emits the primitive
    * loop). Bit-identical to the HOF formulation in
    * [[graft.functions.VectorOps.sqdist]] — same (x−y)² terms summed
    * left-to-right — but evaluated as compiled Java instead of
    * per-element interpreted lambdas: the arithmetic the per-row argmin
    * runs k times per input row at 100 TB. */
  case class SqDist(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "vec_sqdist"

    /** Dimension mismatch → null, matching the HOF formulation
      * (`zip_with` pads with null, poisoning the fold). */
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      if (x.numElements() != y.numElements()) return null
      val n = x.numElements()
      var s = 0.0
      var i = 0
      while (i < n) { val d = x.getDouble(i) - y.getDouble(i); s += d * d; i += 1 }
      s
    }

    // Fresh local names: two instances of this expression routinely
    // share one codegen scope (the k-way argmin projection), and fixed
    // names would collide, failing janino compilation and silently
    // disabling whole-stage codegen.
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        val i = ctx.freshName("i")
        val d = ctx.freshName("d")
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  int $n = $a.numElements();
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    double $d = $a.getDouble($i) - $b.getDouble($i);
           |    $acc += $d * $d;
           |  }
           |  ${ev.value} = $acc;
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): SqDist =
      copy(left = l, right = r)
  }

  /** Dot product with codegen — same contract as [[SqDist]]. */
  case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "vec_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      if (x.numElements() != y.numElements()) return null
      val n = x.numElements()
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        val i = ctx.freshName("i")
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  int $n = $a.numElements();
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    $acc += $a.getDouble($i) * $b.getDouble($i);
           |  }
           |  ${ev.value} = $acc;
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
      copy(left = l, right = r)
  }

  /** struct(cluster_id, sqdist) of the nearest center to an
    * array<double> column, centers fixed per plan (driver-held, the
    * Lloyd-loop shape). Null for a null or dimension-mismatched
    * vector. See [[ArgminKernel]] for the equivalence contract with
    * the literal `array_min` formulation (KMeansSpec pins it on the
    * fixture corpus). */
  case class ArgminCenters(child: Expression, centers: Array[Array[Double]])
      extends UnaryExpression {
    require(centers.nonEmpty, "need at least one center")
    private val dim = centers.head.length
    require(centers.forall(_.length == dim), "ragged centers")
    @transient private lazy val flat: Array[Double] = centers.flatten

    override def dataType: DataType = StructType(Seq(
      StructField("cluster_id", IntegerType, nullable = false),
      StructField("sqdist", DoubleType, nullable = false)))
    override def nullable: Boolean = true
    override def prettyName: String = "vec_argmin"

    override def nullSafeEval(input: Any): Any =
      ArgminKernel.compute(input.asInstanceOf[ArrayData], flat, centers.length, dim)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val flatRef = ctx.addReferenceObj("centersFlat", flat, "double[]")
        s"""
           |${ev.value} = graft.plans.ArgminKernel.compute(
           |  $a, $flatRef, ${centers.length}, $dim);
           |${ev.isNull} = ${ev.value} == null;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): ArgminCenters =
      copy(child = newChild)
  }

  def vec_argmin(vec: Column, centers: Array[Array[Double]]): Column =
    org.apache.spark.sql.GraftShims.column(ArgminCenters(
      org.apache.spark.sql.GraftShims.expression(vec), centers))

  /** Modulus of the rolling fingerprint: keeps every intermediate
    * < 2^36, so the fold is overflow-safe in 64-bit arithmetic in any
    * engine ([[graft.functions.TextOps.FingerprintMod]] aliases it). */
  val FingerprintMod = 1000000007L

  /** Polynomial rolling-hash fingerprint of a string:
    * h = (h·31 + codepoint) mod (10⁹+7), folded left-to-right over the
    * code points — bit-identical to the HOF formulation
    * ([[graft.functions.TextOps.rollingFingerprintHof]]: substr/ascii
    * walk the same code points) but compiled: the HOF builds an O(len)
    * array and evaluates two interpreted lambdas per character. */
  case class RollingFingerprint(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "rolling_fingerprint"

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      var h = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        h = (h * 31L + cp) % FingerprintMod
        i += Character.charCount(cp)
      }
      h
    }

    // Fresh names for every local — see the SqDist note.
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val s = ctx.freshName("s")
        val h = ctx.freshName("h")
        val i = ctx.freshName("i")
        val cp = ctx.freshName("cp")
        s"""
           |java.lang.String $s = $a.toString();
           |long $h = 0L;
           |int $i = 0;
           |while ($i < $s.length()) {
           |  int $cp = $s.codePointAt($i);
           |  $h = ($h * 31L + $cp) % ${FingerprintMod}L;
           |  $i += java.lang.Character.charCount($cp);
           |}
           |${ev.value} = $h;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): RollingFingerprint =
      copy(child = newChild)
  }

  /** Per-document repetition counters as array<long>
    * [n_words, n_distinct_words, n_bigrams, n_distinct_bigrams,
    * max_bigram_freq] — ONE compiled pass with a bigram hash map.
    * The HOF twin (sort_array + struct-accumulator `aggregate` in
    * [[graft.operators.TextAnalysis.repetitionStatsHof]]) is
    * semantically identical but interpreted per element: 4.6 s vs
    * 0.15 s for the sf0.1 documents through the noop sink (warmed,
    * round 4) — a 30× gap that at 100 TB is the difference between a
    * scan and a stall. */
  case class RepetitionStats(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "repetition_stats"

    override def nullSafeEval(input: Any): Any =
      RepetitionKernel.compute(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.plans.RepetitionKernel.compute($a);")

    override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
      copy(child = newChild)
  }

  /** One greedy BPE merge pass over a space-joined symbol string —
    * see [[BpeMergeKernel]]; the pair (a, b) is a per-round constant
    * (the round's argmax pair, collected k·1-row like Lloyd
    * centers). */
  case class BpeMergeRound(child: Expression, a: String, b: String)
      extends UnaryExpression {
    require(a.nonEmpty && b.nonEmpty, "merge pair symbols must be non-empty")
    override def dataType: DataType = StringType
    override def prettyName: String = "bpe_merge_round"

    private val ua = UTF8String.fromString(a)
    private val ub = UTF8String.fromString(b)

    override def nullSafeEval(input: Any): Any =
      BpeMergeKernel.compute(input.asInstanceOf[UTF8String], ua, ub)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val refA = ctx.addReferenceObj("bpeA", ua, classOf[UTF8String].getName)
      val refB = ctx.addReferenceObj("bpeB", ub, classOf[UTF8String].getName)
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.plans.BpeMergeKernel.compute($s, $refA, $refB);")
    }

    override protected def withNewChildInternal(newChild: Expression): BpeMergeRound =
      copy(child = newChild)
  }

  /** Per-document hashed bag-of-words counts (array<double>, length
    * `buckets`) — see [[HashedBowKernel]]; `buckets` is a constructor
    * constant. */
  case class HashedBow(child: Expression, buckets: Int)
      extends UnaryExpression {
    require(buckets >= 1, "bucket count must be >= 1")
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "hashed_bow"

    override def nullSafeEval(input: Any): Any =
      HashedBowKernel.compute(input.asInstanceOf[UTF8String], buckets)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.plans.HashedBowKernel.compute($a, $buckets);")

    override protected def withNewChildInternal(newChild: Expression): HashedBow =
      copy(child = newChild)
  }

  /** ALL per-position k-gram rolling fingerprints (array<long>) of a
    * string — see [[GramKernel]]; `k` is a constructor constant. */
  case class GramFingerprints(child: Expression, k: Int)
      extends UnaryExpression {
    require(k >= 1, "gram width k must be >= 1")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "gram_fingerprints"

    override def nullSafeEval(input: Any): Any =
      GramKernel.compute(input.asInstanceOf[UTF8String], k)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.plans.GramKernel.compute($a, $k);")

    override protected def withNewChildInternal(newChild: Expression): GramFingerprints =
      copy(child = newChild)
  }

  /** Winnow-SELECTED per-position fingerprints, packed
    * `(pos << 31) | fp` — see [[GramKernel.computeWinnowedPos]]. */
  case class GramWinnowedPos(child: Expression, k: Int, w: Int)
      extends UnaryExpression {
    require(k >= 1 && w >= 1, "gram width k and window w must be >= 1")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "gram_winnowed_pos"

    override def nullSafeEval(input: Any): Any =
      GramKernel.computeWinnowedPos(input.asInstanceOf[UTF8String], k, w)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.plans.GramKernel.computeWinnowedPos($a, $k, $w);")

    override protected def withNewChildInternal(newChild: Expression): GramWinnowedPos =
      copy(child = newChild)
  }

  /** Sorted distinct winnowed fingerprints (array<long>) of a string —
    * see [[WinnowKernel]]; `k`/`w` are constructor constants. */
  case class WinnowFingerprints(child: Expression, k: Int, w: Int)
      extends UnaryExpression {
    require(k >= 1 && w >= 1, "winnow k and w must be >= 1")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "winnow_fingerprints"

    override def nullSafeEval(input: Any): Any =
      WinnowKernel.compute(input.asInstanceOf[UTF8String], k, w)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.plans.WinnowKernel.compute($a, $k, $w);")

    override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
      copy(child = newChild)
  }

  /** Column wrappers for the compiled kernels. */
  def vec_sqdist(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftShims.column(SqDist(
      org.apache.spark.sql.GraftShims.expression(a),
      org.apache.spark.sql.GraftShims.expression(b)))

  def vec_dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftShims.column(DotProduct(
      org.apache.spark.sql.GraftShims.expression(a),
      org.apache.spark.sql.GraftShims.expression(b)))

  /** Column wrapper. */
  def word_shingles(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftShims.column(
      WordShingles(org.apache.spark.sql.GraftShims.expression(text), n))

  def word_shingles_all(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftShims.column(
      WordShingles(org.apache.spark.sql.GraftShims.expression(text), n,
        distinct = false))

  def rolling_fingerprint(text: Column): Column =
    org.apache.spark.sql.GraftShims.column(
      RollingFingerprint(org.apache.spark.sql.GraftShims.expression(text)))

  def repetition_stats(text: Column): Column =
    org.apache.spark.sql.GraftShims.column(
      RepetitionStats(org.apache.spark.sql.GraftShims.expression(text)))

  def winnow_fingerprints(text: Column, k: Int, w: Int): Column =
    org.apache.spark.sql.GraftShims.column(
      WinnowFingerprints(org.apache.spark.sql.GraftShims.expression(text), k, w))

  def gram_fingerprints(text: Column, k: Int): Column =
    org.apache.spark.sql.GraftShims.column(
      GramFingerprints(org.apache.spark.sql.GraftShims.expression(text), k))

  def gram_winnowed_pos(text: Column, k: Int, w: Int): Column =
    org.apache.spark.sql.GraftShims.column(
      GramWinnowedPos(org.apache.spark.sql.GraftShims.expression(text), k, w))

  def hashed_bow(text: Column, buckets: Int): Column =
    org.apache.spark.sql.GraftShims.column(
      HashedBow(org.apache.spark.sql.GraftShims.expression(text), buckets))

  def bpe_merge_round(syms: Column, a: String, b: String): Column =
    org.apache.spark.sql.GraftShims.column(
      BpeMergeRound(org.apache.spark.sql.GraftShims.expression(syms), a, b))

  /** Monotone IEEE-754 bit image of a double: a long m(x) with
    * x₁ < x₂ ⟺ m(x₁) < m(x₂) under Spark's double ordering
    * (negatives ascend, −0.0 normalized to +0.0 via the `+ 0.0`,
    * NaN above +∞ — `doubleToLongBits` canonicalizes NaN to
    * 0x7FF8…). The standard sort-key trick: non-negative bit
    * patterns pass through, negative ones flip their magnitude
    * bits. Lets order-statistic operators bucket by VALUE-INTRINSIC
    * bit prefixes (`m >> s`) instead of a per-group min/max affine
    * rescale — no extent join, so the corpus is never shuffled by
    * group key (the round-5 quantiles skew-funnel fix: a sort-merge
    * extent join hash-partitions the whole corpus by group, and one
    * dominant group lands in one task). */
  case class DoubleSortBits(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "double_sort_bits"

    override def nullSafeEval(input: Any): Any = {
      val m = java.lang.Double.doubleToLongBits(input.asInstanceOf[Double] + 0.0d)
      if (m >= 0L) m else m ^ 0x7fffffffffffffffL
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val m = ctx.freshName("m")
        s"""
           |long $m = java.lang.Double.doubleToLongBits($a + 0.0d);
           |${ev.value} = $m >= 0L ? $m : ($m ^ 0x7fffffffffffffffL);
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): DoubleSortBits =
      copy(child = newChild)
  }

  def double_sort_bits(x: Column): Column =
    org.apache.spark.sql.GraftShims.column(
      DoubleSortBits(org.apache.spark.sql.GraftShims.expression(x)))

  /** Z-ORDER (Morton) interleaving of two non-negative keys — the
    * multi-dimensional data-layout primitive: sorting by z(x, y)
    * clusters rows so that a range predicate on EITHER key (or both)
    * maps to a bounded set of z-runs, which parquet row-group min/max
    * stats then prune at the scan (SinksSpec measures the effect).
    * Bit i of x lands at z-bit 2i, bit i of y at 2i+1 (y is the
    * "major" axis on ties). Inputs outside [0, 2^bits) → null —
    * never a silently-wrapped key; bits ≤ 31 keeps z positive.
    * Interpreted and generated code both run the public-domain
    * 5-shift magic-mask spreading ([[ZOrderKernel]]); its equality
    * with the literal per-bit loop (the formulation the DuckDB
    * oracle runs) is a ScalaCheck law. */
  case class ZOrder2(left: Expression, right: Expression, bits: Int)
      extends BinaryExpression {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "zorder2"
    private val lim = 1L << bits

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[Long]
      val y = b.asInstanceOf[Long]
      if (x < 0L || y < 0L || x >= lim || y >= lim) null
      else ZOrderKernel.interleave(x, y)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        s"""
           |if ($a < 0L || $b < 0L || $a >= ${lim}L || $b >= ${lim}L) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = graft.plans.ZOrderKernel.interleave($a, $b);
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): ZOrder2 =
      copy(left = l, right = r)
  }

  def zorder2(x: Column, y: Column, bits: Int = 31): Column =
    org.apache.spark.sql.GraftShims.column(ZOrder2(
      org.apache.spark.sql.GraftShims.expression(x.cast("bigint")),
      org.apache.spark.sql.GraftShims.expression(y.cast("bigint")), bits))

  /** Register SQL-callable names on a session (idempotent). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_shingles",
      exprs => WordShingles(exprs.head, foldToInt(exprs(1))),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_shingles_all",
      exprs => WordShingles(exprs.head, foldToInt(exprs(1)), distinct = false),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_sqdist", exprs => SqDist(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_fingerprint", exprs => RollingFingerprint(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "repetition_stats", exprs => RepetitionStats(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "double_sort_bits", exprs => DoubleSortBits(exprs.head), "built-in")
  }

  /** Fold a constant integral expression to Int with a clear error
    * (any integral literal type; rejects null/non-integral). */
  def foldToInt(e: Expression): Int = e.eval(InternalRow.empty) match {
    case n: java.lang.Number => n.intValue()
    case other => throw new IllegalArgumentException(
      s"expected a constant integer argument, got: $other")
  }
}
