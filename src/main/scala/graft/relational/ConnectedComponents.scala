package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components — the step a dedup pipeline needs
  * between near-duplicate PAIRS and a per-document canonical id: pairs
  * form a similarity graph, each connected component is one duplicate
  * cluster, and the minimum doc id in the component is the member every
  * copy dedupes to.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14).
  * Maintaining edges directed high→low id:
  *  - large-star: each node u links every strictly-larger neighbor to
  *    `m = min(Γ(u) ∪ u)` — one groupBy(u) + join;
  *  - small-star: each node u links its smaller neighbors and itself
  *    to its minimum neighbor — one groupBy + join.
  * The edge set's fixpoint is a star per component centered on the
  * component-minimum node, reached in O(log n) rounds for ANY graph
  * shape — unlike plain min-label propagation, which needs O(component
  * diameter) rounds and dies on long duplicate chains. The return
  * still records whether a fixpoint was reached within `maxIter` so
  * callers can fail loudly instead of using a partial labeling.
  *
  * Scale shape (the 100 TB story): each half-round shuffles |E| rows
  * into a hash aggregate keyed by node (partial aggregation reduces
  * map-side first) plus one co-partitioned join on the same key. No
  * driver data path; the only driver value is a per-round edge-set
  * fingerprint (count + xor-hash, one scalar agg), which is also the
  * round's [[graft.Checkpoints.iterate]] probe.
  */
object ConnectedComponents {

  /** Label every node with the minimum node id reachable from it.
    *
    * @param nodes one column `id` (Long); isolated nodes keep their own
    *              id as the component label
    * @param edges two columns `a`, `b` (Long) — undirected; direction
    *              and duplicates are normalized internally
    * @return ((id, comp) DataFrame, converged flag)
    */
  def label(nodes: DataFrame, edges: DataFrame, maxIter: Int = 25): (DataFrame, Boolean) = {
    // Order-independent content fingerprint of an edge set — one
    // map-combinable aggregate pass. Set equality via (count, xor of
    // per-edge hashes): labels only ever decrease, so across rounds a
    // fingerprint match means the fixpoint was reached (a spurious
    // 64-bit xor collision between DIFFERENT consecutive edge sets is
    // ~2⁻⁶⁴ — and the label() output is still whatever round produced,
    // deterministically). This replaces a per-round `except` anti-join
    // (two full |E| shuffles) with one partial-agg scan.
    def fp(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("hi"), col("lo")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // Fixpoint test: fingerprints equal ⇒ equal sets (labels are
    // monotone non-increasing; see fp()). An empty edge set is final.
    val done = graft.Checkpoints.iterate[((Long, Long), Boolean)](
      // Canonical directed form: (hi, lo) with lo < hi, deduped.
      edges
        .select(greatest(col("a"), col("b")).as("hi"),
          least(col("a"), col("b")).as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct(),
      maxIter) { (e, prev) =>
      val f = fp(e)
      (f, f._1 == 0L || prev.exists(_._1 == f))
    } { (e, m, _) =>
      if (m._2) None
      else {
        // Large-star over the full (undirected) neighborhood of u.
        val und = e.select(col("hi").as("u"), col("lo").as("v"))
          .unionByName(e.select(col("lo").as("u"), col("hi").as("v")))
        val mins = und.groupBy("u").agg(min("v").as("mn"))
          .select(col("u"), least(col("mn"), col("u")).as("m"))
        // No distinct here: small-star's min-agg is duplicate-insensitive
        // and its final distinct dedups the round's output — dropping the
        // intermediate dedup removes a full |E| exchange per round.
        val ls = und.join(mins, "u")
          .filter(col("v") > col("u"))
          .select(col("v").as("hi"), col("m").as("lo"))
        // Small-star over the lo-neighbors of each hi node. m = min
        // lo-neighbor; link the other lo-neighbors and hi itself to m.
        val smins = ls.groupBy("hi").agg(min("lo").as("m"))
        val joined = ls.join(smins, "hi")
        Some(joined.filter(col("lo") =!= col("m"))
          .select(col("lo").as("hi"), col("m").as("lo"))
          .unionByName(joined.select(col("hi"), col("m").as("lo")))
          .distinct())
      }
    }
    val ((nEdges, _), converged) = done.probe
    org.slf4j.LoggerFactory.getLogger(getClass)
      .debug(s"[cc] rounds=${done.rounds} edges=$nEdges converged=$converged")
    val e = done.state
    // At the fixpoint every edge is (member, component-min).
    val labels = nodes
      .join(e.select(col("hi").as("id"), col("lo").as("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    (labels, converged)
  }
}
