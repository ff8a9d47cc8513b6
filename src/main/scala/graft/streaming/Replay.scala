package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one replay harness behind every streaming-executed query: the
  * query's testdata is STAGED as ordered single-file arrivals, READ
  * back one file per micro-batch, and RUN under AvailableNow
  * to completion, with the executed data-batch count asserted against
  * what was staged. The split rules (event-time quantiles, the docs
  * ingest timeline, waves, chunks, sentinels) stay with their queries
  * as the [[Arrivals]] they hand to [[stage]].
  *
  * The batch-count assertion is what keeps a multi-batch replay
  * honest: an AvailableNow file source that drains every file into ONE
  * micro-batch still produces correct rows (the contracts are
  * N-invariant) but never carries state across a batch boundary. */
object Replay {

  /** A query's replay input: `parts` are the data arrivals in order
    * (empty ones are skipped when staged), `sentinels` the closing
    * arrivals that only advance the watermark. */
  final case class Arrivals(parts: Seq[DataFrame], sentinels: Seq[DataFrame] = Nil)

  /** A staged source: `dir` holds `parts` data files then `sentinels`
    * files, one micro-batch each, in modification-time order. */
  final case class Staged(dir: String, schema: StructType, parts: Int, sentinels: Int) {
    def batches: Int = parts + sentinels
  }

  /** Where a replay's rows go. */
  sealed trait Sink
  /** A memory table named after the query (`spark.table(q.name)`). */
  final case class Memory(mode: OutputMode = OutputMode.Append()) extends Sink
  /** A function applied to each micro-batch. */
  final case class PerBatch(f: (DataFrame, Long) => Unit) extends Sink

  /** Staged sources, one per full parameter key per process: repeated
    * declared-query invocations (Verify + Bench, bench passes,
    * session restarts) read the same files. */
  private val staged = TrieMap.empty[Product, Staged]

  /** Stage `arrivals` once per process for `key` (every parameter the
    * arrivals depend on), or afresh when `key` is `None`. */
  def stage(key: Option[Product])(arrivals: => Arrivals): Staged = key match {
    case Some(k) => staged.getOrElseUpdate(k, write(arrivals))
    case None => write(arrivals)
  }

  private def write(a: Arrivals): Staged = {
    val dir = graft.ScratchDirs.cleanedOnExit("graft-replay-src-")
    val parts = a.parts.filterNot(_.isEmpty)
    val files = parts ++ a.sentinels
    require(files.nonEmpty, "replay staged no rows")
    files.zipWithIndex.foreach { case (p, i) => writeBatch(p, dir, i + 1) }
    Staged(dir, files.head.sparkSession.read.parquet(dir).schema,
      parts.size, a.sentinels.size)
  }

  /** One single-file parquet arrival under `dir`, stamped with a
    * strictly increasing modification time: the file source orders
    * arrivals by mtime, and the multi-batch replay oracles depend on
    * batch k sorting strictly before batch k+1, so a refused mtime
    * change must fail loudly, not silently reorder the batches. */
  private def writeBatch(part: DataFrame, dir: String, n: Int): Unit = {
    val dest = java.nio.file.Paths.get(dir, s"batch$n.parquet")
    graft.ScratchDirs.withTempDir("graft-replay-stage") { tmp =>
      part.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part file under $tmp"))
      java.nio.file.Files.move(f.toPath, dest)
    }
    if (!dest.toFile.setLastModified(n * 1000000000L))
      sys.error(s"setLastModified failed for $dest; replay batch order not guaranteed")
  }

  /** The staged source as a stream, one file per micro-batch. */
  def read(spark: SparkSession, s: Staged): DataFrame =
    spark.readStream.schema(s.schema).option("maxFilesPerTrigger", "1").parquet(s.dir)

  /** Stateful-shuffle width of the replay micro-batches. Round-15 A/B
    * at sf0.1/32 cpus (pass-2 walls over the 7 heaviest replays):
    * 8 → 4 partitions is a consistent −10..20% (26.2 → 22.3 s summed;
    * q228 6.0 → 4.8, q168 1.9 → 1.3, q195 2.6 → 2.2), because every
    * stateful operator loads + commits one state store PER shuffle
    * partition and the testdata micro-batches are far below one
    * store's worth of work; 2 was not reliably better (q228
    * regressed). */
  private val ReplayPartitions = 4

  /** The state store `transformWithState` needs. (Round-15 A/B, kept
    * for the record: changelog checkpointing — the documented
    * commit-latency knob for LARGE RocksDB state — measured SLOWER here
    * (q228 commit 1.0 → 2.0–5.3 s summed, total 6.5 → 14.3 s): at
    * kilobyte-sized per-store state the per-commit changelog writer +
    * background snapshot machinery cost more than the tiny snapshot
    * upload it replaces. Left OFF.) */
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val runs = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run `stream` (read from `s`) to completion under AvailableNow:
    * a unique query name, the replay width, checkpoints under
    * [[scratchRoot]] and, when `rocksDb`, the RocksDB state store, all
    * scoped to the run. The query is stopped and its checkpoint dropped
    * whatever happens; a run that times out, or executes a number of
    * data micro-batches other than `s.batches`, fails. Returns the
    * stopped query (its name is the memory table's). */
  def run(stream: DataFrame, s: Staged, sink: Sink = Memory(),
      rocksDb: Boolean = false, timeoutMs: Long = 180000): StreamingQuery = {
    val w = stream.writeStream.queryName(s"replay_${runs.incrementAndGet()}")
      .trigger(Trigger.AvailableNow())
    val writer = sink match {
      case Memory(mode) => w.format("memory").outputMode(mode)
      case PerBatch(f) => w.foreachBatch(f)
    }
    val store =
      if (rocksDb) Seq("spark.sql.streaming.stateStore.providerClass" -> Some(RocksDbProvider))
      else Nil
    graft.Tuning.withConf(stream.sparkSession, Seq(
        "spark.sql.shuffle.partitions" -> Some(ReplayPartitions.toString),
        "spark.sql.streaming.checkpointLocation" -> Some(scratchRoot)) ++ store: _*) {
      val q = writer.start()
      // A timed-out replay would hand a TRUNCATED memory table to the
      // oracle diff — fail loudly instead of producing a confusing
      // row-mismatch (or a coincidental pass).
      val finished =
        try q.awaitTermination(timeoutMs)
        finally { q.stop(); dropScratchCheckpoint(q) }
      if (!finished)
        sys.error(s"streaming replay did not finish within $timeoutMs ms")
      val got = q.recentProgress.count(_.numInputRows > 0)
      if (got != s.batches)
        sys.error(s"replay executed $got data micro-batches, staged ${s.batches} " +
          s"(${s.parts} data + ${s.sentinels} sentinel) — multi-batch claim violated")
      q
    }
  }

  /** RAM-backed scratch root for the replay checkpoints (round-15
    * optimization, guide §5/§6 — measured first: per micro-batch the
    * offset-WAL + commit-log fsyncs cost ~75 ms and every state-store
    * commit writes + fsyncs a delta/snapshot file into the checkpoint
    * dir, 0.5–3 s summed per batch across stores — the dominant term
    * of the ~2 s/query streaming floor at sf0.1, all of it I/O on
    * scratch no one ever reads back. The replays are bounded
    * AvailableNow backfills: their checkpoint is ephemeral by
    * construction (the result dies with the JVM; a crash means rerun,
    * never resume), so checkpoint durability buys nothing. Default to
    * the RAM-backed tmpfs when the host has one with room
    * ([[scratchBase]]); `SPARK_GRAFT_STREAM_SCRATCH` overrides (a
    * production deployment of a CONTINUOUS pipeline points the same
    * knob — Spark's checkpointLocation — at durable storage instead;
    * this default is scoped to the replay harness, not baked into any
    * query). Each query's checkpoint subdir is deleted once the query
    * stops; the root itself goes at JVM exit. */
  private[streaming] lazy val scratchRoot: String = {
    val shm = new java.io.File(ShmDir)
    graft.ScratchDirs.cleanedOnExit("graft-stream-scratch", scratchBase(
      sys.env.get("SPARK_GRAFT_STREAM_SCRATCH"),
      if (shm.isDirectory && shm.canWrite) Some(shm.getUsableSpace) else None))
  }

  private[streaming] val ShmDir = "/dev/shm"

  /** Least usable space for [[ShmDir]] to host the replay scratch. A
    * container's default tmpfs is 64 MiB, which a few concurrent
    * replays' state-store files can fill. */
  private[streaming] val ShmMinUsableBytes: Long = 1L << 30

  /** Where [[scratchRoot]] lives: the override when set, else the
    * tmpfs when it is writable (`shmUsableBytes` defined) with at least
    * [[ShmMinUsableBytes]] free, else the JVM temp dir (`None`). */
  private[streaming] def scratchBase(overrideDir: Option[String],
      shmUsableBytes: Option[Long]): Option[String] =
    overrideDir.orElse(
      shmUsableBytes.filter(_ >= ShmMinUsableBytes).map(_ => ShmDir))

  /** Delete a stopped query's checkpoint dir when it lies under
    * [[scratchRoot]]; a checkpoint anywhere else is left alone. */
  private def dropScratchCheckpoint(q: StreamingQuery): Unit = q match {
    case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
      val dir = java.nio.file.Paths.get(
        new java.net.URI(w.streamingQuery.resolvedCheckpointRoot).getPath)
      if (dir.startsWith(java.nio.file.Paths.get(scratchRoot)))
        graft.ScratchDirs.deleteRecursively(dir.toFile)
    case _ => ()
  }
}
