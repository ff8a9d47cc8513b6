package graft.mrdf

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import NnDescentLocal.{Edge, Pt}

/** The block NN-Descent kernel must return the identical edge sequence
  * (ids, neighbors, `dist` bits, order) as the frozen pre-memo kernel
  * in [[NnDescentLocalOracle]], over block sizes, k, both sampling
  * paths, tied distances and a memo small enough to collide. */
class NnDescentLocalSpec extends AnyFunSuite {

  private val ns = Seq(2, 3, 17, 31, 100, 500)
  private val ks = Seq(1, 5, 30)
  private val rates = Seq(1.0, 0.5)
  private val dim = 8

  /** Shuffled ids, so the kernel's sort-by-id step is exercised. */
  private def block(n: Int, seed: Long)(vec: Random => Array[Float]): Array[Pt] = {
    val r = new Random(seed)
    val idSet = r.shuffle((0 until n).map(i => 1000L + 7L * i))
    idSet.map(id => Pt(id, vec(r))).toArray
  }

  private def gaussian(n: Int, seed: Long): Array[Pt] =
    block(n, seed)(r => Array.fill(dim)(r.nextGaussian().toFloat))

  /** Coordinates in {0, 1, 2}: many exact distance ties and duplicate
    * vectors, so the (w, idx) tie-break decides inserts. */
  private def tied(n: Int, seed: Long): Array[Pt] =
    block(n, seed)(r => Array.fill(3)(r.nextInt(3).toFloat))

  private def key(es: Iterator[Edge]): Seq[(Long, Long, Long)] =
    es.map(e => (e.id, e.nbr, java.lang.Double.doubleToRawLongBits(e.dist))).toSeq

  private def check(pts: Array[Pt], k: Int, seed: Long, rate: Double,
                    what: String): Unit = {
    val want = key(NnDescentLocalOracle.run(pts, k, seed, sampleRate = rate))
    for (cap <- Seq(1 << 20, 4)) {
      val got = key(NnDescentLocal.runMemo(pts, k, seed, 0.001, rate, 30, cap))
      assert(got == want,
        s"$what n=${pts.length} k=$k seed=$seed sampleRate=$rate memoSlots=$cap")
    }
  }

  for (n <- ns; k <- ks) {
    val seeds = if (n <= 31) 0L until 40L else 0L until 3L
    test(s"gaussian vectors n=$n k=$k: identical edges to the frozen kernel") {
      for (s <- seeds; rate <- rates) check(gaussian(n, s), k, s * 31 + 7, rate, "gaussian")
    }
    test(s"tied vectors n=$n k=$k: identical edges to the frozen kernel") {
      for (s <- seeds; rate <- rates) check(tied(n, s), k, s * 31 + 7, rate, "tied")
    }
  }

  test("public run is the uncapped memo kernel") {
    val pts = gaussian(100, 5L)
    assert(key(NnDescentLocal.run(pts, 10, 3L)) ==
      key(NnDescentLocalOracle.run(pts, 10, 3L)))
  }

  test("a NaN coordinate leaves the output identical (memo switched off)") {
    for (s <- 0L until 10L) {
      val pts = gaussian(40, s)
      pts(3) = Pt(pts(3).id, Array.fill(dim)(Float.NaN))
      check(pts, 5, s, 1.0, "nan")
    }
  }

  test("blocks of 0 and 1 points yield no edges") {
    assert(NnDescentLocal.run(Array.empty[Pt], 5, 1L).isEmpty)
    assert(NnDescentLocal.run(Array(Pt(1L, Array(0f))), 5, 1L).isEmpty)
  }
}
