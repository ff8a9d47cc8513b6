package graft.streaming

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.{Materialized, Registry, SparkSpec}

/** The replay harness's two promises: a declared multi-batch replay
  * really runs the batches it staged (and the harness refuses one that
  * does not), and a replay source is staged once per process, across
  * bench passes and session restarts. */
class ReplayHarnessSpec extends SparkSpec {

  test("q183's replay runs exactly its three staged data batches") {
    val dataBatches = new AtomicInteger(0)
    val terminated = new CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) dataBatches.incrementAndGet()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        terminated.countDown()
    }
    spark.streams.addListener(listener)
    try {
      assert(Registry.byName("q183_stream_dedup").run(spark, sf0001).count() > 0)
      // the listener bus delivers a query's events in order: once the
      // termination arrived, every progress event has too
      assert(terminated.await(60, TimeUnit.SECONDS))
    } finally spark.streams.removeListener(listener)
    assert(dataBatches.get == 3)
  }

  test("the harness refuses a replay whose data-batch count differs from what was staged") {
    val src = StreamingPipelines.eventsReplay(spark, sf0001, batches = 3)
    assert(src.parts == 3 && src.sentinels == 0)
    // without maxFilesPerTrigger an AvailableNow file source drains all
    // three arrivals in ONE micro-batch
    val e = intercept[RuntimeException] {
      Replay.run(StreamingPipelines.hourlyKeyDedupStream(
        StreamingPipelines.readEventsStream(spark, src.dir)), src)
    }
    assert(e.getMessage.contains("executed 1 data micro-batches, staged 3"), e.getMessage)
  }

  test("q183 stages its replay source once per process, across a bench reset and a session restart") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def srcDirs = Option(tmp.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("graft-replay-src-")).toSet
    val before = srcDirs
    val q183 = Registry.byName("q183_stream_dedup")
    val first = q183.run(spark, sf0001).collect().toSeq
    Materialized.reset()
    spark.stop()
    val restarted = SparkSpec.session
    assert(restarted ne spark)
    val second = q183.run(restarted, sf0001).collect().toSeq
    assert(second == first)
    val staged = new java.io.File(
      StreamingPipelines.eventsReplay(restarted, sf0001, batches = 3).dir).getName
    val written = srcDirs -- before
    assert(written.subsetOf(Set(staged)),
      s"q183 wrote more than one replay source dir: $written")
  }
}
