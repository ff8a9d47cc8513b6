package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.knn.GraphAnalytics
import graft.mrdf.{Mrdf, MrdfQueries}
import graft.relational.ConnectedComponents
import graft.text.Bpe

/** Every checkpointed iterative loop in the library, each at one fixed
  * toy input (MRDF's from `sfDir`'s embeddings): the rows of the
  * checkpoint-hygiene and job-count specs. `run` calls the loop and
  * returns its output frame unconsumed. */
object IterativeLoops {

  final case class Loop(name: String, run: SparkSession => DataFrame)

  /** 60-node ring lattice: every node links to the nodes ±1 and ±2 away,
    * so the graph is 4-regular and every edge is mutual. */
  def lattice(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0L until 60L).flatMap { i =>
      Seq(1L, 2L, 58L, 59L).map(o => (i, (i + o) % 60L, ((i * 31 + o * 17) % 97 + 1) / 100.0))
    }.toDF("id", "nbr", "dist")
  }

  /** The pageRank spec's graph: 1↔2↔3 mutually linked, 4 points in. */
  def hubGraph(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1L, 2L), (1L, 3L), (2L, 1L), (2L, 3L),
      (3L, 1L), (3L, 2L), (4L, 1L), (4L, 2L)).toDF("id", "nbr")
  }

  def all(sfDir: String): Seq[Loop] = Seq(
    Loop("mrdf", s => Mrdf.buildGraphWithStats(
      Tables.load(s, sfDir, "embeddings").limit(300),
      MrdfQueries.testParams)._1),
    Loop("connected_components", s => {
      import s.implicits._
      ConnectedComponents.label((0L until 40L).toDF("id"),
        ((0L until 19L).map(i => (i, i + 1)) ++ (20L until 39L).map(i => (i + 1, i)))
          .toDF("a", "b"))._1
    }),
    Loop("page_rank", s => GraphAnalytics.pageRank(hubGraph(s), outDeg = 2)),
    Loop("seed_expansion", s =>
      GraphAnalytics.seedExpansion(lattice(s), outDeg = 4, iters = 8, seedMod = 20)),
    Loop("k_core", s => GraphAnalytics.kCore(lattice(s).filter("id % 7 <> 3"), k = 3)),
    Loop("label_propagation", s => GraphAnalytics.labelPropagation(lattice(s), rounds = 5)),
    Loop("bfs_levels", s => GraphAnalytics.bfsLevels(lattice(s), sourceMod = 20L, maxHops = 4)),
    Loop("sssp_micro", s => GraphAnalytics.ssspMicro(lattice(s), sourceMod = 20L, maxHops = 4)),
    Loop("bpe_merges", s => {
      import s.implicits._
      Bpe.bpeMerges(Seq((1L, "low low lower newest widest"), (2L, "lowest newer wider"))
        .toDF("doc_id", "text"), rounds = 5)
    }))
}
