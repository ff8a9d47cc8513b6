package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev tool (round-15 optimization): per-micro-batch duration breakdown
  * for the streaming declared queries. The bench can only see each
  * replay's total wall; this registers a [[StreamingQueryListener]] and
  * dumps every progress event's `durationMs` map (triggerExecution,
  * addBatch, walCommit, commitOffsets, queryPlanning, getBatch,
  * latestOffset) plus state-operator commit times — the evidence for
  * where the ~2 s/query streaming floor actually goes (guide §1:
  * measure first). */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").toSeq
      else Seq("q206_stream_inc_dedup", "q168_stream_tumbling",
        "q184_stream_max_gap", "q222_stream_substr_spans")
    val spark = SessionTuning.session("graft-stream-profile")
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.load(spark, sfDir, "region").count()

    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        events.add(f"START   ${System.nanoTime() / 1e9}%.3f ${e.name}")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dm = p.durationMs
        def d(k: String): Long = Option(dm.get(k)).map(_.toLong).getOrElse(-1L)
        val st = p.stateOperators.map(s =>
          s"${s.operatorName}:commit=${s.commitTimeMs}ms rows=${s.numRowsTotal}")
          .mkString(" | ")
        events.add(f"BATCH ${p.batchId}%3d rows=${p.numInputRows}%6d " +
          f"trigger=${d("triggerExecution")}%5d addBatch=${d("addBatch")}%5d " +
          f"walCommit=${d("walCommit")}%4d commitOffsets=${d("commitOffsets")}%4d " +
          f"planning=${d("queryPlanning")}%4d getBatch=${d("getBatch")}%4d " +
          f"latestOffset=${d("latestOffset")}%4d  $st")
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        events.add(f"END     ${System.nanoTime() / 1e9}%.3f")
    }
    spark.streams.addListener(listener)

    names.foreach { n =>
      events.clear()
      val fn = SparkEntry.queries(n)
      // pass 1: cold (pays replay-source staging); pass 2: warm sources
      (1 to 2).foreach { pass =>
        events.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).groupBy().count().collect()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
        println(f"\n==== $n pass $pass: $dt%.2f s total ====")
        // listener events are async; give the terminate event a moment
        Thread.sleep(300)
        events.forEach(e => println(s"  $e"))
      }
    }
    spark.streams.removeListener(listener)
    spark.stop()
  }
}
