package graft.streaming

import graft.{Registry, SparkSpec}

/** The replay checkpoint scratch: where it lives, and that a declared
  * replay removes its own checkpoint once the query stops. */
class ReplayScratchSpec extends SparkSpec {
  import Replay.{ShmDir, ShmMinUsableBytes, scratchBase}

  test("scratch base: the tmpfs only with at least 1 GiB usable; the override wins") {
    assert(ShmMinUsableBytes == (1L << 30))
    assert(scratchBase(None, Some(64L << 20)).isEmpty)
    assert(scratchBase(None, Some(ShmMinUsableBytes - 1)).isEmpty)
    assert(scratchBase(None, Some(ShmMinUsableBytes)).contains(ShmDir))
    assert(scratchBase(None, None).isEmpty)
    assert(scratchBase(Some("/tmp/elsewhere"), Some(64L << 20)).contains("/tmp/elsewhere"))
    assert(scratchBase(Some("/tmp/elsewhere"), None).contains("/tmp/elsewhere"))
  }

  test("a declared replay leaves no per-query checkpoint dir under the scratch root") {
    val root = new java.io.File(Replay.scratchRoot)
    def children = Option(root.listFiles()).getOrElse(Array.empty).map(_.getName).toSet
    val before = children
    val n = Registry.byName("q183_stream_dedup").run(spark, sf0001).count()
    assert(n > 0)
    val left = children -- before
    assert(left.isEmpty, s"checkpoint dirs left under $root: $left")
    assert(root.isDirectory)
  }
}
