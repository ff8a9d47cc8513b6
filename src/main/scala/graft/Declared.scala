package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: a Spark DataFrame program plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB SQL text
  * for the driver's oracle compare. Queries without `oracle` get the
  * driver's weaker rows-only check (seeded/approximate algorithms). */
final case class Declared(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "",
    // True for queries whose run() executes a full Structured
    // Streaming pipeline (AvailableNow replay) and returns a
    // memory-sink read: there is no lazy batch plan to audit, so
    // PlanAuditSpec skips the queries with this flag — not by a name
    // convention.
    streamingExecuted: Boolean = false,
    // True for queries whose timed window is storage-commit-bound for
    // a NON-streaming reason — the persisted-index family writes +
    // fsyncs parquet (build → write → reload) inside the measurement
    // (round-13 verdict #6: the same stall class q184 had, previously
    // adjudicated by the disk probe only for streamingExecuted rows).
    // Bench applies the disk-bracket signal to these too.
    diskSensitive: Boolean = false)

object Registry {
  /** Single source of truth wired into SparkEntry. Order = SURVEY.md §2
    * inventory order (knn flagship first). */
  lazy val all: Seq[Declared] =
    graft.knn.KnnQueries.declared ++
      graft.knn.GraphSearch.declared ++
      graft.knn.GraphIndexStore.declared ++
      graft.knn.GraphAnalytics.declared ++
      graft.relational.Relational.declared ++
      graft.relational.EventAnalytics.declared ++
      graft.relational.SessionAnalytics.declared ++
      graft.relational.JoinShapes.declared ++
      graft.relational.TpchShapes.declared ++
      graft.relational.Skyline.declared ++
      graft.relational.Regression.declared ++
      graft.relational.TimeSeries.declared ++
      graft.relational.MarketBasket.declared ++
      graft.relational.SkewJoin.declared ++
      graft.relational.RuntimeFilter.declared ++
      graft.relational.ZOrderLayout.declared ++
      graft.relational.ChangeData.declared ++
      graft.relational.DataQuality.declared ++
      graft.text.Retrieval.declared ++
      graft.text.Bpe.declared ++
      graft.streaming.TimeWindows.declared ++
      graft.streaming.StreamingPipelines.declared ++
      graft.streaming.StreamSubstr.declared ++
      graft.streaming.StreamSelfDedup.declared ++
      graft.streaming.StreamGraphIngest.declared ++
      graft.text.TextQueries.declared ++
      graft.text.Dedup.declared ++
      graft.text.CorpusPipeline.declared ++
      graft.text.CurationQueries.declared ++
      graft.text.PipelineOps.declared ++
      graft.text.CorpusOps.declared ++
      graft.text.LineDedup.declared ++
      graft.text.SpanDedup.declared ++
      graft.text.ExactSubstr.declared ++
      graft.text.Classifier.declared ++
      graft.text.CorpusStats.declared ++
      graft.text.CorpusHygiene.declared ++
      graft.text.LanguageModel.declared ++
      graft.text.Redaction.declared ++
      graft.text.ShardPlan.declared ++
      graft.text.SampleOps.declared ++
      graft.similarity.SimilarityQueries.declared ++
      graft.similarity.SemDeDup.declared ++
      graft.similarity.ContrastiveMining.declared ++
      graft.similarity.EmbeddingStats.declared ++
      graft.similarity.VectorSearch.declared ++
      graft.similarity.IvfIndexStore.declared ++
      graft.multimodal.Multimodal.declared ++
      graft.mrdf.MrdfQueries.declared ++
      graft.SqlApi.declared

  def byName(n: String): Declared =
    all.find(_.name == n).getOrElse(sys.error(s"no declared query $n"))
}
