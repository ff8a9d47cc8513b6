package graft.mrdf

import scala.util.Random

import graft.linalg.Distances

/** In-memory NN-Descent (Dong, Moses & Li, WWW 2011) — the block-local
  * refinement loop of MRDF.
  *
  * Rebuilds the semantics of the reference's distributed-RDD version
  * (`/root/reference/nndescent.py:9-68`: old/new split → reverse edges →
  * sampled reverses → candidate pairs → heap merge → δNK convergence)
  * as a single-JVM routine. MRDF guarantees blocks ≤ α, so running the
  * loop inside one `flatMapGroups` group replaces the reference's
  * driver round-trips (`collect`/`parallelize` at nndescent.py:33-37,64)
  * while keeping the blocks themselves distributed — the design SURVEY.md
  * §7 step 6 calls for. The reference's flag bug (B5, nndescent.py:183:
  * updates inserted with flag False, killing the incremental "new"
  * optimization) is NOT reproduced: inserted neighbors are flagged new.
  */
object NnDescentLocal {

  final case class Pt(id: Long, vec: Array[Float])
  final case class Edge(id: Long, nbr: Long, dist: Double)

  /** Slot cap of the scored-pair memo: 2^20 longs = 8 MiB per call. */
  private val MemoMaxSlots = 1 << 20

  /** Run NN-Descent over a block. Deterministic for a given (block, seed):
    * the block is sorted by id first, and all sampling uses `seed`. */
  def run(block: Array[Pt], k: Int, seed: Long,
          precision: Double = 0.001, sampleRate: Double = 1.0,
          maxIter: Int = 30): Iterator[Edge] =
    runMemo(block, k, seed, precision, sampleRate, maxIter, MemoMaxSlots)

  /** [[run]] with the memo capped at `memoMaxSlots` (a power of two);
    * specs pass a tiny cap to force slot collisions. */
  private[mrdf] def runMemo(block: Array[Pt], k: Int, seed: Long,
      precision: Double, sampleRate: Double, maxIter: Int,
      memoMaxSlots: Int): Iterator[Edge] = {
    val pts = block.sortBy(_.id)
    val n = pts.length
    if (n <= 1) return Iterator.empty
    val kk = math.min(k, n - 1)
    val rnd = new Random(seed)
    // stamp(u) == curStamp marks u as drawn by the current init or
    // union pass
    val stamp = new Array[Int](n)
    var curStamp = 0

    // B[v] is the slot range [v·kk, v·kk + kk) of ws / ids / isNew,
    // sorted by (w, idx), no duplicate idx. Init: kk distinct random
    // neighbors at w=∞, flagged new (reference initial_sample /
    // sample_infinity, nndescent.py:70-74,194-203). Every list starts
    // full and an insert evicts its last entry, so it stays full.
    val ws = Array.fill(n * kk)(Double.PositiveInfinity)
    val ids = new Array[Int](n * kk)
    val isNew = Array.fill(n * kk)(true)
    var v = 0
    while (v < n) {
      curStamp += 1
      var filled = 0
      while (filled < kk) {
        val j = rnd.nextInt(n)
        if (j != v && stamp(j) != curStamp) {
          stamp(j) = curStamp
          ids(v * kk + filled) = j
          filled += 1
        }
      }
      java.util.Arrays.sort(ids, v * kk, v * kk + kk)
      v += 1
    }

    /** Offer (u, w) to B[v]: 1 if B[v] changed, 0 if rejected, and −1
      * if rejected only because u sits in B[v] as an unscored init
      * entry (w = ∞), the one rejection that is not final (see the
      * memo below). Keeps the list sorted by (w, idx) and capped at
      * kk — the per-key k-min merge of mrdf.py:166-170 /
      * nn_update_heap. */
    def insert(v: Int, u: Int, w: Double): Int = {
      val base = v * kk
      val last = base + kk - 1
      if (w > ws(last) || (w == ws(last) && u >= ids(last))) return 0
      var i = base
      while (i <= last) {
        if (ids(i) == u) return if (ws(i) == Double.PositiveInfinity) -1 else 0
        i += 1
      }
      // evict the last entry, then place (w, u) before the first
      // larger one
      i = base
      while (i < last && (ws(i) < w || (ws(i) == w && ids(i) < u))) i += 1
      var j = last
      while (j > i) {
        ws(j) = ws(j - 1); ids(j) = ids(j - 1); isNew(j) = isNew(j - 1)
        j -= 1
      }
      ws(i) = w; ids(i) = u; isNew(i) = true
      1
    }

    // Scored-pair memo. Pair lemma: a list's last (w, idx) only moves
    // down, and a finite member was inserted at the pair's own
    // deterministic distance. So once a pair {u1, u2} has been offered,
    // a later offer returns 0 on both sides whether it was inserted,
    // rejected on weight, or cut off by the bounded distance (which
    // only tightens). The exception is an offer rejected because the
    // neighbor is still an init entry at w = ∞: once that entry is
    // evicted, the same offer can insert. A pair is therefore recorded
    // unless either insert returned −1, and a recorded pair is skipped.
    // Direct-mapped on the pair's triangular index: a slot collision
    // only costs a recomputation, never a wrong skip. A NaN weight
    // breaks the list order the lemma rests on, so it switches the
    // memo off for the rest of the call.
    var slots = 1
    val pairs = n.toLong * (n - 1) / 2
    while (slots < pairs && slots < memoMaxSlots) slots <<= 1
    val memo = new Array[Long](slots) // pair index + 1; 0 = empty
    var memoOn = true

    /** Score {u1, u2} and offer it to both lists; returns the number
      * of lists changed. */
    def offer(u1: Int, u2: Int): Int = {
      val lo = math.min(u1, u2)
      val hi = math.max(u1, u2)
      val pair = hi.toLong * (hi - 1) / 2 + lo
      val slot = (pair & (slots - 1)).toInt
      if (memoOn && memo(slot) == pair + 1) return 0
      // Bounded distance: once the partial squared sum exceeds BOTH
      // sides' acceptance thresholds the pair is rejected either way,
      // so the computation can stop early (≡ decisions, fewer flops).
      val bound = math.max(ws(u1 * kk + kk - 1), ws(u2 * kk + kk - 1))
      val w = Distances.euclideanLocalBounded(pts(u1).vec, pts(u2).vec, bound)
      if (w.isNaN) memoOn = false
      if (w == Double.PositiveInfinity) {
        memo(slot) = pair + 1
        0
      } else {
        val a = insert(u1, u2, w)
        val b = insert(u2, u1, w)
        if (memoOn && a >= 0 && b >= 0) memo(slot) = pair + 1
        math.max(a, 0) + math.max(b, 0)
      }
    }

    val sampleK = math.max(1, (sampleRate * kk).toInt)
    val threshold = precision * n * kk
    // per-iteration lists: news / olds of v at [v·kk, v·kk + count(v))
    val news = new Array[Int](n * kk)
    val newsN = new Array[Int](n)
    val olds = new Array[Int](n * kk)
    val oldsN = new Array[Int](n)
    val fresh = new Array[Int](kk) // slot numbers of B[v]'s new entries
    val newAll = new Array[Int](2 * sampleK)
    val oldAll = new Array[Int](kk + sampleK)

    /** `(own(v) ++ sampleN(rev(v), sampleK)).distinct` into `out`;
      * returns its length. Shuffles v's segment of `rev` in place. */
    def union(own: Array[Int], ownN: Array[Int], rev: (Array[Int], Array[Int]),
              v: Int, out: Array[Int]): Int = {
      val (offsets, members) = rev
      val rs = offsets(v)
      val rn = offsets(v + 1) - rs
      if (rn > sampleK) shuffle(members, rn, rnd, rs)
      curStamp += 1
      var k = 0
      def add(u: Int): Unit =
        if (stamp(u) != curStamp) { stamp(u) = curStamp; out(k) = u; k += 1 }
      var i = v * kk
      while (i < v * kk + ownN(v)) { add(own(i)); i += 1 }
      i = rs
      while (i < rs + math.min(rn, sampleK)) { add(members(i)); i += 1 }
      k
    }

    var changed = Long.MaxValue
    var iter = 0
    while (changed >= threshold && iter < maxIter) {
      iter += 1
      // old/new split + ρK sampling of new, sampled flags cleared
      // (get_old / get_new / mark_sampled_as_false, nndescent.py:76-136).
      v = 0
      while (v < n) {
        val base = v * kk
        var nf = 0
        var no = 0
        var i = base
        while (i < base + kk) {
          if (isNew(i)) { fresh(nf) = i; nf += 1 }
          else { olds(base + no) = ids(i); no += 1 }
          i += 1
        }
        if (nf > sampleK) shuffle(fresh, nf, rnd)
        val picked = math.min(nf, sampleK)
        i = 0
        while (i < picked) {
          isNew(fresh(i)) = false
          news(base + i) = ids(fresh(i))
          i += 1
        }
        newsN(v) = picked
        oldsN(v) = no
        v += 1
      }
      // reverse edges + sampled reverse union
      // (generate_reverses / sample_reverses, nndescent.py:102-117).
      val newR = reverse(news, newsN, n, kk)
      val oldR = reverse(olds, oldsN, n, kk)
      changed = 0L
      v = 0
      while (v < n) {
        val na = union(news, newsN, newR, v, newAll)
        val oa = union(olds, oldsN, oldR, v, oldAll)
        // candidate pairs (get_nn_updates_to_make, nndescent.py:139-172):
        // new×new (ordered) and new×old, both directions updated.
        var i = 0
        while (i < na) {
          val u1 = newAll(i)
          var j = i + 1
          while (j < na) {
            changed += offer(u1, newAll(j))
            j += 1
          }
          j = 0
          while (j < oa) {
            val u2 = oldAll(j)
            if (u1 != u2) changed += offer(u1, u2)
            j += 1
          }
          i += 1
        }
        v += 1
      }
    }

    (0 until n).iterator.flatMap { v =>
      (v * kk until v * kk + kk).iterator.filter(ws(_) != Double.PositiveInfinity)
        .map(i => Edge(pts(v).id, pts(ids(i)).id, ws(i)))
    }
  }

  /** Reverse lists in CSR form: `(offsets, members)` with the sources
    * of u at members[offsets(u), offsets(u + 1)), in ascending order. */
  private def reverse(lists: Array[Int], counts: Array[Int], n: Int,
                      kk: Int): (Array[Int], Array[Int]) = {
    val offsets = new Array[Int](n + 1)
    var v = 0
    while (v < n) {
      var i = v * kk
      while (i < v * kk + counts(v)) { offsets(lists(i) + 1) += 1; i += 1 }
      v += 1
    }
    v = 0
    while (v < n) { offsets(v + 1) += offsets(v); v += 1 }
    val members = new Array[Int](offsets(n))
    val fill = java.util.Arrays.copyOf(offsets, n)
    v = 0
    while (v < n) {
      var i = v * kk
      while (i < v * kk + counts(v)) {
        val u = lists(i)
        members(fill(u)) = v
        fill(u) += 1
        i += 1
      }
      v += 1
    }
    (offsets, members)
  }

  /** Shuffles xs[from, from + len) with the exact draw sequence of
    * `Random.shuffle`, so the rewrite consumes `rnd` as the collection
    * form did. */
  private def shuffle(xs: Array[Int], len: Int, rnd: Random, from: Int = 0): Unit = {
    var m = len
    while (m >= 2) {
      val r = rnd.nextInt(m)
      val t = xs(from + m - 1)
      xs(from + m - 1) = xs(from + r)
      xs(from + r) = t
      m -= 1
    }
  }
}
