package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, slice}

import graft.io.v2.VecsKind

/** fvecs/ivecs binary codecs — the reference's ingest formats
  * (`utilities.py:46-143` readers, `utilities.py:32-40` writer).
  * Layout per record, little-endian, no header: `int32 dim` then
  * `dim × float32` (fvecs) or `dim × int32` (ivecs); node id is the
  * 0-based record index (`utilities.py:61,82`).
  *
  * Every fixed-dim file is read through the DataSource V2 scan
  * ([[graft.io.v2.FvecsDataSource]]) at any size, via [[readAuto]] and
  * [[readAutoIvecs]], so no fixed-dim input is decoded on the driver.
  * The codecs below serve the writers, fixtures, and the one input the
  * scan cannot split: a variable-dim file.
  */
object Fvecs {

  private def checkDim(dim: Int, remaining: Int, id: Long): Unit =
    require(dim > 0 && dim.toLong * 4 <= remaining,
      s"corrupt/truncated vecs file: record $id declares dim=$dim " +
        s"with only $remaining payload bytes left")

  /** Serialized size for an encode, summed in Long and bounded to one
    * ByteBuffer: an Int sum would overflow silently past 2 GiB and
    * either mis-size the buffer or throw something unrelated. */
  private def encodeSize(recordBytes: Iterator[Long], what: String): Int = {
    val total = recordBytes.sum
    require(total <= Int.MaxValue,
      s"$what encode of $total bytes exceeds a single buffer (2 GiB); " +
        "write in chunks or use the streaming writer")
    total.toInt
  }

  def decodeFvecs(bytes: Array[Byte], inputMax: Int = 0): Seq[(Long, Array[Float])] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val out = Seq.newBuilder[(Long, Array[Float])]
    var id = 0L
    while (bb.remaining() >= 4 && (inputMax <= 0 || id < inputMax)) {
      val dim = bb.getInt
      checkDim(dim, bb.remaining(), id)
      val v = new Array[Float](dim)
      var i = 0
      while (i < dim) { v(i) = bb.getFloat; i += 1 }
      out += ((id, v))
      id += 1
    }
    out.result()
  }

  def encodeFvecs(vecs: Seq[Array[Float]]): Array[Byte] = {
    val size = encodeSize(vecs.iterator.map(v => 4L + 4L * v.length), "fvecs")
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    vecs.foreach { v => bb.putInt(v.length); v.foreach(bb.putFloat) }
    bb.array()
  }

  /** ivecs reader; k > 0 truncates each vector to its first k components
    * (ground-truth convention, `utilities.py:121-123`). */
  def decodeIvecs(bytes: Array[Byte], inputMax: Int = 0, k: Int = 0): Seq[(Long, Array[Int])] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val out = Seq.newBuilder[(Long, Array[Int])]
    var id = 0L
    while (bb.remaining() >= 4 && (inputMax <= 0 || id < inputMax)) {
      val dim = bb.getInt
      checkDim(dim, bb.remaining(), id)
      val v = new Array[Int](dim)
      var i = 0
      while (i < dim) { v(i) = bb.getInt; i += 1 }
      out += ((id, if (k > 0 && k < dim) v.take(k) else v))
      id += 1
    }
    out.result()
  }

  def encodeIvecs(vecs: Seq[Array[Int]]): Array[Byte] = {
    val size = encodeSize(vecs.iterator.map(v => 4L + 4L * v.length), "ivecs")
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    vecs.foreach { v => bb.putInt(v.length); v.foreach(bb.putInt) }
    bb.array()
  }

  /** bvecs reader — the third standard ANN vector format (bigann's
    * base/query files): `int32 dim` then `dim × uint8` per record.
    * Components are promoted to float (the standard consumption — SIFT
    * byte vectors feed the same distance kernels as fvecs). */
  def decodeBvecs(bytes: Array[Byte], inputMax: Int = 0): Seq[(Long, Array[Float])] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val out = Seq.newBuilder[(Long, Array[Float])]
    var id = 0L
    while (bb.remaining() >= 4 && (inputMax <= 0 || id < inputMax)) {
      val dim = bb.getInt
      require(dim > 0 && dim.toLong <= bb.remaining(),
        s"corrupt/truncated bvecs file: record $id declares dim=$dim " +
          s"with only ${bb.remaining()} payload bytes left")
      val v = new Array[Float](dim)
      var i = 0
      while (i < dim) { v(i) = (bb.get() & 0xff).toFloat; i += 1 }
      out += ((id, v))
      id += 1
    }
    out.result()
  }

  /** bvecs writer; every component must fit uint8. */
  def encodeBvecs(vecs: Seq[Array[Int]]): Array[Byte] = {
    val size = encodeSize(vecs.iterator.map(v => 4L + v.length), "bvecs")
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    vecs.foreach { v =>
      bb.putInt(v.length)
      v.foreach { x =>
        require(x >= 0 && x <= 255, s"bvecs component $x outside uint8")
        bb.put(x.toByte)
      }
    }
    bb.array()
  }

  def writeFvecsFile(path: String, vecs: Seq[Array[Float]]): Unit =
    Files.write(Paths.get(path), encodeFvecs(vecs))

  def writeBvecsFile(path: String, vecs: Seq[Array[Int]]): Unit =
    Files.write(Paths.get(path), encodeBvecs(vecs))

  /** The DataSource V2 scan of a fixed-dim file as `(id, vec)`,
    * `inputMax` > 0 pushed down as a limit; None (with a warning) when
    * the probe rejects the file, e.g. a variable-dim fixture that only
    * the driver codec can walk. */
  private def scan(spark: SparkSession, path: String, kind: VecsKind,
                   inputMax: Int): Option[DataFrame] =
    try {
      kind.probe(path, spark.sparkContext.hadoopConfiguration)
      val df = spark.read.format(kind.provider).load(path)
      Some(if (inputMax > 0) df.limit(inputMax) else df)
    } catch { case e: IllegalArgumentException =>
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"falling back to driver ${kind.name} decode: ${e.getMessage}")
      None
    }

  /** Ingest for the FLOAT-valued layouts: `.bvecs` files scan as uint8
    * promoted to float, anything else as fvecs — EXCEPT `.ivecs`, which
    * is int-valued ground truth and would silently mis-decode as floats:
    * such paths fail loudly toward [[readAutoIvecs]]. */
  def readAuto(spark: SparkSession, path: String,
               inputMax: Int = 0): Dataset[(Long, Array[Float])] = {
    import spark.implicits._
    val lower = path.toLowerCase(java.util.Locale.ROOT)
    require(!lower.endsWith(".ivecs"),
      s"$path is int-valued ground truth: reading it as float vectors " +
        "would silently mis-decode every component — use readAutoIvecs")
    val isBvecs = lower.endsWith(".bvecs")
    val kind = if (isBvecs) VecsKind.Bvecs else VecsKind.Fvecs
    scan(spark, path, kind, inputMax).map(_.as[(Long, Array[Float])]).getOrElse {
      val bytes = Files.readAllBytes(Paths.get(path))
      spark.createDataset(
        if (isBvecs) decodeBvecs(bytes, inputMax) else decodeFvecs(bytes, inputMax))
    }
  }

  /** [[readAuto]]'s int-valued twin for `.ivecs` ground truth; `k` > 0
    * keeps each row's first k ids (a `slice` projection over the scan).
    * The mirrored tripwire rejects float-layout extensions (a
    * `.fvecs`/`.bvecs` path would mis-decode as ints just as silently). */
  def readAutoIvecs(spark: SparkSession, path: String, inputMax: Int = 0,
                    k: Int = 0): Dataset[(Long, Array[Int])] = {
    import spark.implicits._
    val lower = path.toLowerCase(java.util.Locale.ROOT)
    require(!lower.endsWith(".fvecs") && !lower.endsWith(".bvecs"),
      s"$path is a float-valued layout: reading it as int ground truth " +
        "would silently mis-decode every component — use readAuto")
    scan(spark, path, VecsKind.Ivecs, inputMax)
      .map(df => df.select(col("id"),
        if (k > 0) slice(col("vec"), 1, k) else col("vec")).as[(Long, Array[Int])])
      .getOrElse(spark.createDataset(
        decodeIvecs(Files.readAllBytes(Paths.get(path)), inputMax, k)))
  }
}
