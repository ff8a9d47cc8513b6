package graft.mrdf

import scala.collection.mutable
import scala.util.Random

import graft.linalg.Distances

/** The block NN-Descent kernel as it stood before the scored-pair memo
  * and the flat adjacency arrays, kept verbatim as the oracle that
  * [[NnDescentLocalSpec]] compares [[NnDescentLocal.run]] against: the
  * rewrite must return the identical edge sequence. Do not optimise. */
object NnDescentLocalOracle {

  import NnDescentLocal.{Edge, Pt}

  /** One adjacency entry: distance, local index of neighbor, "new" flag. */
  private final class Nbr(var w: Double, val idx: Int, var isNew: Boolean)

  /** Run NN-Descent over a block. Deterministic for a given (block, seed):
    * the block is sorted by id first, and all sampling uses `seed`. */
  def run(block: Array[Pt], k: Int, seed: Long,
          precision: Double = 0.001, sampleRate: Double = 1.0,
          maxIter: Int = 30): Iterator[Edge] = {
    val pts = block.sortBy(_.id)
    val n = pts.length
    if (n <= 1) return Iterator.empty
    val kk = math.min(k, n - 1)
    val rnd = new Random(seed)

    // B[v]: sorted-by-(w, idx) adjacency, ≤ kk entries, no duplicates.
    // Init: kk distinct random neighbors at w=∞, flagged new
    // (reference initial_sample / sample_infinity, nndescent.py:70-74,194-203).
    val adj = Array.fill(n)(mutable.ArrayBuffer.empty[Nbr])
    // O(1) membership beside each sorted list — the member scan was the
    // hottest line of the whole loop (every candidate pays it otherwise)
    val members = new Array[mutable.HashSet[Int]](n)
    var v = 0
    while (v < n) {
      val seen = mutable.HashSet.empty[Int]
      while (seen.size < kk) {
        val j = rnd.nextInt(n)
        if (j != v) seen += j
      }
      adj(v) ++= seen.toArray.sorted.map(new Nbr(Double.PositiveInfinity, _, true))
      members(v) = seen
      v += 1
    }

    /** Try to insert (u, w) into B[v]; returns 1 if B[v] changed.
      * Keeps the list sorted by (w, idx) and capped at kk — the
      * per-key k-min merge of mrdf.py:166-170 / nn_update_heap.
      * Cheap weight rejection runs before the membership check; the
      * order is equivalent because a member's re-offered weight is the
      * same deterministic distance, so whichever check fires first the
      * answer is 0. */
    def insert(v: Int, u: Int, w: Double): Int = {
      if (u == v) return 0
      val b = adj(v)
      if (b.size >= kk) {
        val last = b.last
        if (w > last.w || (w == last.w && u >= last.idx)) return 0
      }
      if (members(v).contains(u)) return 0
      if (b.size >= kk) {
        members(v) -= b.last.idx
        b.remove(b.size - 1)
      }
      var i = 0
      while (i < b.size && (b(i).w < w || (b(i).w == w && b(i).idx < u))) i += 1
      b.insert(i, new Nbr(w, u, true))
      members(v) += u
      1
    }

    /** Largest distance B[v] could still accept — ∞ while under
      * capacity, else the current worst weight. */
    def acceptBound(v: Int): Double = {
      val b = adj(v)
      if (b.size < kk) Double.PositiveInfinity else b.last.w
    }

    val sampleK = math.max(1, (sampleRate * kk).toInt)
    val threshold = precision * n * kk
    var changed = Long.MaxValue
    var iter = 0
    while (changed >= threshold && iter < maxIter) {
      iter += 1
      // old/new split + ρK sampling of new, sampled flags cleared
      // (get_old / get_new / mark_sampled_as_false, nndescent.py:76-136).
      val olds = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
      val news = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
      v = 0
      while (v < n) {
        val fresh = adj(v).filter(_.isNew)
        val picked =
          if (fresh.size <= sampleK) fresh
          else rnd.shuffle(fresh.toIndexedSeq).take(sampleK)
        picked.foreach { nb => nb.isNew = false; news(v) += nb.idx }
        adj(v).foreach(nb => if (!nb.isNew && !news(v).contains(nb.idx)) olds(v) += nb.idx)
        v += 1
      }
      // reverse edges + sampled reverse union
      // (generate_reverses / sample_reverses, nndescent.py:102-117).
      val oldR = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
      val newR = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
      v = 0
      while (v < n) {
        olds(v).foreach(u => oldR(u) += v)
        news(v).foreach(u => newR(u) += v)
        v += 1
      }
      changed = 0L
      v = 0
      while (v < n) {
        val newAll = (news(v) ++ sampleN(newR(v), sampleK, rnd)).distinct
        val oldAll = (olds(v) ++ sampleN(oldR(v), sampleK, rnd)).distinct
        // candidate pairs (get_nn_updates_to_make, nndescent.py:139-172):
        // new×new (ordered) and new×old, both directions updated.
        // Bounded distance: once the partial squared sum exceeds BOTH
        // sides' acceptance thresholds the pair is rejected either way,
        // so the computation can stop early (≡ decisions, fewer flops).
        var i = 0
        while (i < newAll.length) {
          val u1 = newAll(i)
          var j = i + 1
          while (j < newAll.length) {
            val u2 = newAll(j)
            if (u1 != u2) {
              val bound = math.max(acceptBound(u1), acceptBound(u2))
              val w = Distances.euclideanLocalBounded(pts(u1).vec, pts(u2).vec, bound)
              if (w != Double.PositiveInfinity)
                changed += insert(u1, u2, w) + insert(u2, u1, w)
            }
            j += 1
          }
          j = 0
          while (j < oldAll.length) {
            val u2 = oldAll(j)
            if (u1 != u2) {
              val bound = math.max(acceptBound(u1), acceptBound(u2))
              val w = Distances.euclideanLocalBounded(pts(u1).vec, pts(u2).vec, bound)
              if (w != Double.PositiveInfinity)
                changed += insert(u1, u2, w) + insert(u2, u1, w)
            }
            j += 1
          }
          i += 1
        }
        v += 1
      }
    }

    (0 until n).iterator.flatMap { v =>
      adj(v).iterator.filter(_.w != Double.PositiveInfinity)
        .map(nb => Edge(pts(v).id, pts(nb.idx).id, nb.w))
    }
  }

  private def sampleN(xs: mutable.ArrayBuffer[Int], m: Int, rnd: Random): Seq[Int] =
    if (xs.size <= m) xs.toSeq else rnd.shuffle(xs.toIndexedSeq).take(m)
}
