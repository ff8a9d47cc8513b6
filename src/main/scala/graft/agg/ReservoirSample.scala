package graft.agg

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** An item of a bottom-n sketch: its rank `h` and its id. */
sealed trait Ranked { def h: Long; def id: Long }

final case class Keyed(h: Long, id: Long) extends Ranked
final case class KeyedList(items: Seq[Keyed])
final case class IdList(ids: Seq[Long])

final case class KeyedVec(h: Long, id: Long, vec: Array[Float]) extends Ranked
final case class KeyedVecList(items: Seq[KeyedVec], cnt: Long)

/** Deterministic n-sample per key — replaces the reference's reservoir
  * (`utilities.py:15-30`, buggy per SURVEY §3 B3: replacement index
  * drawn from the reservoir length, so not uniform).
  *
  * Instead of sequential Algorithm R (whose output depends on partition
  * visit order — nondeterministic on a cluster), this is a *bottom-n
  * sketch*: every item gets a pseudo-random rank `h = mix(seed, id)`
  * (splitmix64 finalizer — public-domain constant mixing, same family
  * Spark's xxhash uses) and the n smallest ranks win. Order-independent
  * ⇒ identical samples on any partitioning, mergeable map-side, and
  * uniform for distinct ids.
  */
final class ReservoirSample(n: Int, seed: Long)
    extends Aggregator[Long, KeyedList, IdList] {

  override def zero: KeyedList = KeyedList(Vector.empty)
  override def reduce(b: KeyedList, id: Long): KeyedList =
    KeyedList(BottomN.insert(n, b.items, Keyed(BottomN.mix(seed, id), id)))
  override def merge(x: KeyedList, y: KeyedList): KeyedList =
    KeyedList(y.items.foldLeft(x.items)(BottomN.insert(n, _, _)))
  override def finish(r: KeyedList): IdList = IdList(r.items.map(_.id))
  override def bufferEncoder: Encoder[KeyedList] = Encoders.product[KeyedList]
  override def outputEncoder: Encoder[IdList] = Encoders.product[IdList]
}

/** The bottom-n sketch's rank and order — the single implementation
  * behind [[ReservoirSample]], [[RankedSample]] and [[VecSample]] (and,
  * through [[VecSample]], MRDF's driver-side divide), so no two of them
  * can drift in rank, tie-break or dedup semantics. */
private[agg] object BottomN {

  /** The pseudo-random rank of `id` under `seed`: the splitmix64
    * finalizer of `id + seed`. */
  def mix(seed: Long, id: Long): Long = {
    var z = id + seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** `a` strictly before `b` in the sketch's (h, id) order. */
  def before(a: Ranked, b: Ranked): Boolean = a.h < b.h || (a.h == b.h && a.id < b.id)

  /** Insert `e` into the (h, id)-sorted bottom-`n` list `sorted`; an id
    * already present is dropped. */
  def insert[E <: Ranked](n: Int, sorted: Seq[E], e: E): Seq[E] = {
    if (sorted.exists(_.id == e.id)) return sorted
    if (sorted.length >= n && !before(e, sorted.last)) return sorted
    val i = sorted.indexWhere(before(e, _))
    val ins = if (i < 0) sorted :+ e else sorted.patch(i, Seq(e), 0)
    if (ins.length > n) ins.dropRight(ins.length - n) else ins
  }
}

/** [[ReservoirSample]] with the rank supplied by the CALLER instead of
  * the internal splitmix64 mix — the portable-twin form: the plan
  * computes an engine-portable rank (md5 prefix) so an external SQL
  * oracle can replay the identical sample, while the aggregation shape
  * (per-key bottom-n sketch, order-independent, map-side partial) stays
  * exactly [[ReservoirSample]]'s. */
final class RankedSample(n: Int) extends Aggregator[Keyed, KeyedList, IdList] {
  override def zero: KeyedList = KeyedList(Vector.empty)
  override def reduce(b: KeyedList, e: Keyed): KeyedList =
    KeyedList(BottomN.insert(n, b.items, e))
  override def merge(x: KeyedList, y: KeyedList): KeyedList =
    KeyedList(y.items.foldLeft(x.items)(BottomN.insert(n, _, _)))
  override def finish(r: KeyedList): IdList = IdList(r.items.map(_.id))
  override def bufferEncoder: Encoder[KeyedList] = Encoders.product[KeyedList]
  override def outputEncoder: Encoder[IdList] = Encoders.product[IdList]
}

/** [[ReservoirSample]] fused with a count: one pass per key yields
  * (group size, deterministic bottom-n of (rank, id) carrying each
  * winner's vector). The MRDF divide phase needs both per block —
  * fusing them makes each division level a single aggregation job
  * instead of a histogram job plus a sampling job, and MRDF's local
  * arm folds the same `reduce` over the corpus on the driver.
  * Same splitmix64 ranking, same order-independence and merge law;
  * items stay sorted by (rank, id), so a position is a stable
  * per-key index. */
final class VecSample(n: Int, seed: Long)
    extends Aggregator[(Long, Array[Float]), KeyedVecList, KeyedVecList] {

  override def zero: KeyedVecList = KeyedVecList(Vector.empty, 0L)
  override def reduce(b: KeyedVecList, r: (Long, Array[Float])): KeyedVecList =
    KeyedVecList(BottomN.insert(n, b.items, KeyedVec(BottomN.mix(seed, r._1), r._1, r._2)),
      b.cnt + 1)
  override def merge(x: KeyedVecList, y: KeyedVecList): KeyedVecList =
    KeyedVecList(y.items.foldLeft(x.items)(BottomN.insert(n, _, _)), x.cnt + y.cnt)
  override def finish(r: KeyedVecList): KeyedVecList = r
  override def bufferEncoder: Encoder[KeyedVecList] = Encoders.product[KeyedVecList]
  override def outputEncoder: Encoder[KeyedVecList] = Encoders.product[KeyedVecList]
}
