package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Declared, ScratchDirs, Tables}
import graft.knn.{GraphIndexStore, KnnQueries}

/** STREAMED graph-index ingest (round-13 verdict #3): arriving vectors
  * flow INTO the persisted graph index — the missing online half of
  * the index lifecycle (q225 persists, q226 serves, q227 upserts one
  * batch; a production index ingests continuously — the reference's
  * product, the KNN graph of `mrdf.py:199-215`, must accept a stream
  * of inserts to be one).
  *
  * Shape: the base index (75% slice, the q227 split) is built and
  * persisted once per invocation; the delta slice arrives as a REAL
  * file-source stream in [[Waves]] single-file waves
  * (`maxFilesPerTrigger = 1` ⇒ one micro-batch per wave, the count
  * asserted), and each micro-batch lands via `foreachBatch` →
  * [[GraphIndexStore.upsert]] — the EXACT maintenance path, so the
  * xor fingerprint chains batch-over-batch and after the final wave
  * `isFreshFor(base ∪ Δ₁ ∪ Δ₂ ∪ Δ₃)` is REQUIREd. Exactness is
  * compositional: upsert(g, Δ) ≡ rebuild(corpus ∪ Δ) at every step, so
  * the post-ingest adjacency equals the one-shot rebuild over ALL
  * embeddings — the oracle states exactly that (q227's rebuild SQL,
  * knn_bruteforce's text). No ordering caveat: waves are disjoint id
  * slices and the contract is arrival-order-invariant.
  *
  * Why `foreachBatch` and not a stateful operator: the index IS the
  * state — nodes/edges/meta parquet under the index dir, shared with
  * the batch upsert and serve paths — so the stream's job is exactly
  * "apply each arriving batch through the store's maintenance
  * transaction" (meta/ the commit point, a tear detectable by the
  * freshness proof). Keyed state would duplicate the index into the
  * state store and fork the serving source of truth.
  *
  * Scale shape: per batch the exact path pays |Δ|·N + N·|Δ| fused
  * top-k evals — right when deltas are rare and exactness is the
  * contract; the HIGH-RATE path is [[GraphIndexStore.ingestBatchApprox]]
  * (arrivals enter through the STORED router, beam-bounded candidates,
  * never a corpus rescan), measured per batch at 200k in
  * the `stream_graph_ingest` point of [[graft.Scale]] / SCALING
  * `round14_stream_graph_ingest`. */
object StreamGraphIngest {

  private val K = 10
  private[streaming] val Waves = 3

  /** The q230 declared cycle: build + persist the base index, stream
    * the delta waves through `foreachBatch` → exact upsert (the harness
    * asserts one micro-batch per wave), check the chained freshness
    * proof, return the post-ingest adjacency. The delta slice arrives
    * as [[Waves]] single-file arrivals (wave = (vec_id / 4) mod Waves —
    * disjoint, deterministic; empty waves skipped like the q228
    * replay). */
  def ingestAvailableNow(spark: SparkSession, sfDir: String): DataFrame =
    ScratchDirs.withTempDir("graft-gidx-stream-") { idxDir =>
      val emb = Tables.load(spark, sfDir, "embeddings")
      val base = emb.filter(col("vec_id") % 4 =!= 3)
      val delta = emb.filter(col("vec_id") % 4 === 3)
      GraphIndexStore.write(base, org.apache.spark.sql.graft.TopKJoin.knn(
        base.repartition(col("vec_id")), base, K), idxDir, k = K,
        routerFor = Some(GraphIndexStore.sharedBaseRouter(spark, sfDir)))
      val src = Replay.stage(Some(("gidx-delta", sfDir)))(Replay.Arrivals(
        (0 until Waves).map { w =>
          delta.filter(pmod(floor(col("vec_id") / 4), lit(Waves.toLong)) === w)
            .select(col("vec_id"), col("embedding"))
        }))
      // the foreachBatch stream's durability lives in the INDEX
      // transaction (meta/ commit point), not in the replay checkpoint
      Replay.run(Replay.read(spark, src), src, Replay.PerBatch((batch, _) =>
        if (!batch.isEmpty)
          GraphIndexStore.upsert(batch.sparkSession, idxDir, batch, k = K)))
      require(GraphIndexStore.isFreshFor(spark, idxDir, emb),
        "after the final wave the batch-chained fingerprint must validate " +
          "the full corpus (base + every streamed delta)")
      spark.read.parquet(s"$idxDir/edges")
        .orderBy(col("id"), col("dist"), col("nbr")).localCheckpoint()
    }

  val declared: Seq[Declared] = Seq(
    Declared(
      "q230_graph_index_stream_ingest",
      (s, dir) => ingestAvailableNow(s, dir),
      Some(KnnQueries.knnOracle(K)),
      doc = "STREAMED graph-index ingest (round-13 verdict #3): the delta slice ARRIVES as a real file-source stream in 3 single-file waves (micro-batch count asserted), each micro-batch applied to the PERSISTED base index via foreachBatch -> the exact upsert transaction (nodes -> edges -> meta commit point, xor fingerprint chained batch-over-batch, isFreshFor(base+all deltas) REQUIREd after the final wave); exactness is compositional, so the post-ingest adjacency is oracled as the one-shot rebuild over ALL embeddings (q227's SQL)",
      streamingExecuted = true,
      diskSensitive = true)
  )
}
