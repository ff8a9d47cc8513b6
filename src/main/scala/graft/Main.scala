package graft

import org.apache.spark.sql.SparkSession

/** Drop-in CLI for the reference's `main.py` (`main.py:14-48`) — same
  * flags, same fvecs input, same `(id, [n1, n2, ...])` text-graph
  * output folder, so an existing user can point their scripts at
  * `runMain graft.Main` unchanged:
  *
  * {{{
  * --rho 15 --alpha 150000 --k 30 --tau 0.01 --randomseed 42
  * --maxiterations 0 --inputmax 0 --inputfile in.fvecs
  * --outputfile output --bruteforce true
  * }}}
  *
  * Flag quirks preserved where harmless: `--maxiterations 0` means
  * "no max" (mapped to Int.MaxValue); unlike the reference's
  * argparse-bool bug (`main.py:26`: any non-empty string enabled brute
  * force), `--bruteforce` here parses properly.
  */
object Main {

  def run(spark: SparkSession, args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val rho = a.getOrElse("--rho", "15").toInt
    val alpha = a.getOrElse("--alpha", "150000").toInt
    val k = a.getOrElse("--k", "30").toInt
    val tau = a.getOrElse("--tau", "0.01").toDouble
    val seed = a.getOrElse("--randomseed", "42").toLong
    val maxIter0 = a.getOrElse("--maxiterations", "0").toInt
    val inputMax = a.getOrElse("--inputmax", "0").toInt
    val input = a.getOrElse("--inputfile", sys.error("--inputfile required"))
    val output = a.getOrElse("--outputfile", "output")
    val bruteforce = a.getOrElse("--bruteforce", "false").toBoolean
    val maxIter = if (maxIter0 <= 0) Int.MaxValue else maxIter0

    // Fixed-dim files stream in as record-aligned splits across
    // executors at any size (no whole-file driver ingest).
    val vecs = io.Fvecs.readAuto(spark, input, inputMax)
      .toDF("vec_id", "embedding")

    val start = System.nanoTime()
    val edges =
      if (bruteforce) {
        println("Running brute force KNN ...")
        knn.BruteForceKnn.knnGraph(vecs, k)
      } else {
        println("Running MRDF ...")
        mrdf.Mrdf.buildGraph(vecs,
          mrdf.Mrdf.Params(k = k, rho = rho, alpha = alpha, tau = tau,
            seed = seed, maxIter = maxIter))
      }
    io.GraphText.write(knn.BruteForceKnn.asAdjacency(edges), output)
    println(f"Total time taken to run algorithm: ${(System.nanoTime() - start) / 1e9}%s s")
  }

  def main(args: Array[String]): Unit = {
    val spark = SessionTuning.session("MRDF")
    run(spark, args)
    spark.stop()
  }
}

/** Completion of the reference's *unfinished* `getrecallivecs.py`
  * (`getrecallivecs.py:2-3,40-42` — "not yet finished"): score a
  * text-graph folder against an ANN-benchmark ivecs ground-truth file.
  * `--groundtruth gt.ivecs --graph <dir> [--k n]` → `Recall: <r>`.
  * Ground-truth ids are the 0-based record index; k defaults to the
  * graph's own list length per row. */
object GetRecallIvecs {
  def run(spark: SparkSession, args: Array[String]): Double = {
    import spark.implicits._
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val gtPath = a.getOrElse("--groundtruth", sys.error("--groundtruth required"))
    val graphPath = a.getOrElse("--graph", sys.error("--graph required"))
    val k = a.getOrElse("--k", "0").toInt
    // readAutoIvecs: the splittable scan at any size (bigann-scale gt);
    // only a variable-dim file falls back to the driver codec
    val truth = io.Fvecs.readAutoIvecs(spark, gtPath, k = k)
      .map { case (id, nbrs) => (id, nbrs.map(_.toLong).toSeq) }
      .toDF("id", "nbrs")
    val approx = io.GraphText.read(spark, graphPath)
    val r = knn.Recall.recall(truth, approx).collect()(0).getDouble(0)
    println(s"Recall: $r")
    r
  }

  def main(args: Array[String]): Unit = {
    val spark = SessionTuning.session("MRDFGetRecallIvecs")
    run(spark, args)
    spark.stop()
  }
}

/** Drop-in CLI for `getrecall.py:14-35`: `--knn <dir> --mrdf <dir>`,
  * prints `Recall: <r>`. */
object GetRecall {
  def run(spark: SparkSession, args: Array[String]): Double = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val knnPath = a.getOrElse("--knn", sys.error("--knn required"))
    val mrdfPath = a.getOrElse("--mrdf", sys.error("--mrdf required"))
    val truth = io.GraphText.read(spark, knnPath)
    val approx = io.GraphText.read(spark, mrdfPath)
    val r = knn.Recall.recall(truth, approx).collect()(0).getDouble(0)
    println(s"Recall: $r")
    r
  }

  def main(args: Array[String]): Unit = {
    val spark = SessionTuning.session("MRDFGetRecall")
    run(spark, args)
    spark.stop()
  }
}
