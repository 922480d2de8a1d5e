package graft.functions

/** Bounded top-k accumulator — the shared bounded-heap helper behind
  * every per-row candidate kernel (brute-force / MIPS / int8 ANN,
  * the within-cell kNN graph, both margin-mining kernels, visual
  * patch-kNN, the decile partial pass). r12 verdict task 7: each of
  * those kernels used to keep a sorted ArrayBuffer and RE-SORT it on
  * every accepted candidate (O(k log k) per accept — invisible at
  * k = 4, measurable the moment anyone raises k). This is a plain
  * array-backed binary MAX-heap keyed by `ord` — the WORST retained
  * element sits at the root — so a reject costs one compare and an
  * accept costs O(log k).
  *
  * Bit-compatibility contract (what lets every kernel swap in without
  * touching its oracle): the admission law is the idiom's own —
  * admit when size < k, else when `ord.lt(x, worst)` — so the
  * retained set after any candidate stream is exactly the k
  * `ord`-least elements seen, with identical tie behavior (ties on
  * `ord` are never admitted over an incumbent, as before); and
  * [[iterator]] emits ascending by `ord`, the old sorted buffers'
  * emission order. In-repo element types are tuples with a unique id
  * component, so `ord` is a total order and emission is fully
  * deterministic.
  *
  * Micro-bench (this container's JVM, 200 k offers into one heap):
  * on a RANDOM stream accepts are rare (~k·ln(n/k)) and both idioms
  * are noise (~6 vs ~3 ms at k = 4, ~4 vs ~2 ms at k = 64); on an
  * accept-heavy stream (quality improving monotonically — every
  * candidate admitted, the sorted-corpus / locally-clustered case)
  * the re-sort dominates: k = 4 — 62 ms vs 10 ms; k = 64 — 424 ms vs
  * 31 ms (~14×). Equality with the replaced idiom is spec-pinned over
  * random streams at k ∈ {1, 4, 64} in VectorOpsSpec. */
final class BoundedTopK[T <: AnyRef](k: Int, ord: Ordering[T]) {
  require(k >= 1, "k must be >= 1")
  // grows by doubling up to k, so an unbounded k (Int.MaxValue) costs
  // only what is retained
  private var heap = new Array[AnyRef](math.min(k, 16))
  private var n = 0

  @inline private def less(a: AnyRef, b: AnyRef): Boolean =
    ord.lt(a.asInstanceOf[T], b.asInstanceOf[T])

  /** Admit `x` if it beats the worst retained element (or the heap is
    * not yet full); otherwise a single compare and done. */
  def offer(x: T): Unit =
    if (n < k) {
      if (n == heap.length)
        heap = java.util.Arrays.copyOf(heap, math.min(k.toLong, 2L * n).toInt)
      var i = n
      heap(i) = x
      n += 1
      while (i > 0 && less(heap((i - 1) >> 1), heap(i))) {
        val p = (i - 1) >> 1
        val t = heap(p); heap(p) = heap(i); heap(i) = t
        i = p
      }
    } else if (less(x, heap(0))) {
      heap(0) = x
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var m = i
        if (l < n && less(heap(m), heap(l))) m = l
        if (r < n && less(heap(m), heap(r))) m = r
        if (m == i) done = true
        else { val t = heap(m); heap(m) = heap(i); heap(i) = t; i = m }
      }
    }

  def size: Int = n

  /** Retained elements ascending by `ord` (best first) — the emission
    * order of the sorted-buffer idiom this class replaces. */
  def iterator: Iterator[T] = {
    val out = new Array[AnyRef](n)
    System.arraycopy(heap, 0, out, 0, n)
    java.util.Arrays.sort(out, ord.asInstanceOf[java.util.Comparator[AnyRef]])
    out.iterator.map(_.asInstanceOf[T])
  }
}
