package graft.io

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

/** Synthetic fixed-dim fvecs generator — streams records to disk, so
  * multi-GB fixtures cost O(1) memory. Deterministic per (seed, id).
  *
  * Usage: `runMain graft.io.FvecsGen <path> <records> <dim> [seed] [clusters]`
  *
  * With `clusters` > 0 the vectors are a Gaussian mixture (`clusters`
  * centers, σ=0.05 noise, round-robin assignment) instead of uniform
  * noise. Uniform random points in high dimension have NO neighborhood
  * structure (distances concentrate, the true KNN graph is nearly
  * arbitrary), which makes them an adversarial — and unrepresentative —
  * input for any locality-based ANN method; real embedding corpora are
  * strongly clustered. The mixture mode is the scaling-benchmark
  * default for that reason. */
object FvecsGen {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val records = args(1).toLong
    val dim = args(2).toInt
    val seed = if (args.length > 3) args(3).toLong else 42L
    val clusters = if (args.length > 4) args(4).toInt else 0
    write(path, records, dim, seed, clusters)
    println(s"wrote $records x $dim fvecs (${(records * (4L + 4L * dim)) >> 20} MiB) to $path" +
      (if (clusters > 0) s" ($clusters-cluster Gaussian mixture)" else ""))
  }

  /** Programmatic entry (the per-round scaled-recall gate regenerates
    * its pinned fixture through this): same bytes as the CLI for the
    * same (records, dim, seed, clusters). */
  def write(path: String, records: Long, dim: Int, seed: Long,
            clusters: Int): Unit = {
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    val buf = ByteBuffer.allocate(4 + 4 * dim).order(ByteOrder.LITTLE_ENDIAN)
    val rnd = new scala.util.Random(seed)
    val centers: Array[Array[Float]] =
      if (clusters > 0)
        Array.fill(clusters)(Array.fill(dim)(rnd.nextFloat()))
      else null
    var id = 0L
    while (id < records) {
      buf.clear()
      buf.putInt(dim)
      if (clusters > 0) {
        val c = centers((id % clusters).toInt)
        var i = 0
        while (i < dim) {
          buf.putFloat(c(i) + 0.05f * rnd.nextGaussian().toFloat); i += 1
        }
      } else {
        var i = 0
        while (i < dim) { buf.putFloat(rnd.nextFloat()); i += 1 }
      }
      out.write(buf.array())
      id += 1
    }
    out.close()
  }
}

/** Ingest check: reads an fvecs file through [[Fvecs.readAuto]] (the
  * record-aligned DataSource V2 scan) and prints record count, dim, and
  * a content checksum — the driver-OOM-free ingest proof for files far
  * larger than the driver heap.
  *
  * Usage: `runMain graft.io.FvecsCount <path>` */
object FvecsCount {
  def main(args: Array[String]): Unit = {
    val spark = graft.SessionTuning.session("FvecsCount")
    val t0 = System.nanoTime()
    val fp = graft.IndexManifest.fingerprint(
      Fvecs.readAuto(spark, args(0)).toDF("vec_id", "embedding"))
    println(s"records=${fp.n} dim=${fp.dim} " +
      s"checksum=${fp.xor} sec=${(System.nanoTime() - t0) / 1e9}")
    spark.stop()
  }
}
