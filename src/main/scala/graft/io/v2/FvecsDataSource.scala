package graft.io.v2

import java.nio.{ByteBuffer, ByteOrder}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Layout descriptor for the three standard ANN vector stream formats
  * (all `int32 dim` + `dim × component`, little-endian, no header):
  * fvecs (float32), bvecs (uint8, promoted to float at scan), ivecs
  * (int32 ground-truth ids). Record stride = `4 + compBytes·dim`.
  * `provider` names the layout's source by class, so a read needs no
  * `META-INF/services` entry on the classpath. */
private[io] final case class VecsKind(name: String, compBytes: Int,
                                      intElems: Boolean, provider: String) {
  def schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec",
      ArrayType(if (intElems) IntegerType else FloatType, containsNull = false),
      nullable = false)))

  /** The fixed-dim probe: read the first record's dim and require
    * `len % stride == 0`, so record boundaries are computable without
    * sync markers. Returns `(dim, stride, records)`.
    * @throws IllegalArgumentException for an empty, corrupt or
    *         variable-dim file (only the driver codec walks those). */
  def probe(path: String, conf: Configuration): (Int, Long, Long) = {
    val hp = new HPath(path)
    val fs = FileSystem.get(hp.toUri, conf)
    val fileLen = fs.getFileStatus(hp).getLen
    require(fileLen >= 4, s"empty/truncated $name file: $path")
    val header = new Array[Byte](4)
    val in = fs.open(hp)
    try in.readFully(0L, header) finally in.close()
    val dim = ByteBuffer.wrap(header).order(ByteOrder.LITTLE_ENDIAN).getInt
    require(dim > 0, s"corrupt $name: leading dim=$dim in $path")
    val stride = 4L + compBytes.toLong * dim
    // one split is one task-local byte buffer, so a record must fit one
    require(stride <= Int.MaxValue, s"$name record of $stride bytes (dim=$dim)")
    require(fileLen % stride == 0,
      s"$path is not fixed-dim (len=$fileLen, first dim=$dim): " +
        s"variable-dim $name is not splittable; use the graft.io.Fvecs driver codec")
    (dim, stride, fileLen / stride)
  }
}

private[io] object VecsKind {
  val Fvecs: VecsKind =
    VecsKind("fvecs", 4, intElems = false, classOf[FvecsDataSource].getName)
  val Bvecs: VecsKind =
    VecsKind("bvecs", 1, intElems = false, classOf[BvecsDataSource].getName)
  val Ivecs: VecsKind =
    VecsKind("ivecs", 4, intElems = true, classOf[IvecsDataSource].getName)
}

/** DataSource V2 fvecs reader: `spark.read.format("fvecs").load(path)`
  * → `(id BIGINT, vec ARRAY<FLOAT>)`. This is graft's one fixed-dim
  * vecs ingest path: [[graft.io.Fvecs.readAuto]] is a thin call onto
  * it, replacing the reference's whole-file driver ingest
  * (`utilities.py:46-65` + `main.py:31`).
  *
  * fvecs has no sync markers, but real corpora (SIFT/GIST/Deep) are
  * fixed-dim, so record boundaries are computable ([[VecsKind.probe]])
  * and the scan plans record-aligned byte-range partitions, sized by
  * Spark's own file-split rule (`FilePartition.maxSplitBytes`: one split
  * per core, capped at `spark.sql.files.maxPartitionBytes`). Ids are
  * the global record index, derived from each range's offset — no
  * zipWithIndex pass.
  *
  * Operator pushdown, because a custom source should behave like a
  * built-in one under Catalyst:
  *  - LIMIT caps the planned record count exactly, so Spark drops its
  *    own Limit (an `input_max`-style read plans only the splits the
  *    limit needs, with no single-partition funnel);
  *  - column pruning: an id-only projection performs ZERO file reads
  *    (ids are arithmetic over the range), and `count(*)`-style scans
  *    with empty schemas skip decoding entirely.
  *
  * Reads go through the Hadoop FileSystem API with the driver's
  * configuration broadcast to tasks (credentials/FS impls survive on a
  * real cluster, [[org.apache.spark.graft.HadoopConfBridge]]). */
class FvecsDataSource extends TableProvider with DataSourceRegister {
  protected def kind: VecsKind = VecsKind.Fvecs
  override def shortName(): String = kind.name
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    kind.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      s"${shortName()} source needs a path: " +
        s"spark.read.format(\"${shortName()}\").load(path)")
    new FvecsTable(path, kind)
  }
}

/** `spark.read.format("bvecs").load(path)` — the same splittable
  * record-aligned scan over bigann's uint8 layout (`int32 dim` +
  * `dim × uint8`), components promoted to float exactly like
  * [[graft.io.Fvecs.decodeBvecs]]. bigann base files run 100 GB+; this
  * keeps them off the driver. */
class BvecsDataSource extends FvecsDataSource {
  override protected def kind: VecsKind = VecsKind.Bvecs
}

/** `spark.read.format("ivecs").load(path)` → `(id BIGINT,
  * vec ARRAY<INT>)` — the int32 ground-truth layout through the same
  * splittable scan and pushdown contract ([[graft.io.Fvecs.readAutoIvecs]]
  * reads ground truth through it). */
class IvecsDataSource extends FvecsDataSource {
  override protected def kind: VecsKind = VecsKind.Ivecs
}

class FvecsTable(path: String, kind: VecsKind) extends Table with SupportsRead {
  override def name(): String = s"${kind.name}:$path"
  override def schema(): StructType = kind.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FvecsScanBuilder(path, kind)
}

class FvecsScanBuilder(path: String, kind: VecsKind)
    extends ScanBuilder with SupportsPushDownLimit with SupportsPushDownRequiredColumns {

  private var limit: Long = -1L
  private var required: StructType = kind.schema

  override def pushLimit(l: Int): Boolean = { limit = l.toLong; true }
  // the scan plans exactly min(records, limit) rows
  override def isPartiallyPushed(): Boolean = false
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new FvecsScan(path, kind, limit, required)
}

final case class FvecsInputPartition(startRec: Long, nRecs: Long) extends InputPartition

class FvecsScan(path: String, kind: VecsKind, limit: Long, required: StructType)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"${kind.name} $path (limit=$limit, columns=${required.fieldNames.mkString(",")})"

  // (dim, stride, totalRecs) probed once on the driver at planning time
  private lazy val layout: (Int, Long, Long) = {
    val (dim, stride, total) =
      kind.probe(path, SparkSession.active.sparkContext.hadoopConfiguration)
    (dim, stride, if (limit >= 0) math.min(total, limit) else total)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val (_, stride, totalRecs) = layout
    // Spark's file-split rule over the bytes actually scanned; a split
    // is one task-local byte array, so it also stays under 1 GiB
    val splitBytes = math.min(1L << 30,
      FilePartition.maxSplitBytes(SparkSession.active, totalRecs * stride))
    val recsPerSplit = math.max(1L, splitBytes / stride)
    (0L until totalRecs by recsPerSplit)
      .map(s => FvecsInputPartition(s, math.min(recsPerSplit, totalRecs - s)): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val (dim, stride, _) = layout
    val conf = org.apache.spark.graft.HadoopConfBridge
      .broadcast(SparkSession.active.sparkContext,
        SparkSession.active.sparkContext.hadoopConfiguration)
    new FvecsReaderFactory(path, kind, dim, stride, required, conf)
  }
}

class FvecsReaderFactory(path: String, kind: VecsKind, dim: Int, stride: Long,
                         required: StructType,
                         conf: org.apache.spark.graft.HadoopConfBridge.Handle)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[FvecsInputPartition]
    new FvecsPartitionReader(path, kind, dim, stride, required, conf,
      fp.startRec, fp.nRecs)
  }
}

class FvecsPartitionReader(path: String, kind: VecsKind, dim: Int, stride: Long,
                           required: StructType,
                           conf: org.apache.spark.graft.HadoopConfBridge.Handle,
                           startRec: Long, nRecs: Long)
    extends PartitionReader[InternalRow] {

  private val fields = required.fieldNames

  // The byte range is read only when vectors are projected; an id-only
  // (or empty, count(*)) schema is pure arithmetic.
  private lazy val bb: ByteBuffer = {
    val fs = FileSystem.get(new java.net.URI(path), conf.conf)
    val in = fs.open(new HPath(path))
    try {
      val buf = new Array[Byte]((nRecs * stride).toInt)
      in.readFully(startRec * stride, buf)
      ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    } finally in.close()
  }

  private var rec = -1L

  override def next(): Boolean = { rec += 1; rec < nRecs }

  override def get(): InternalRow = {
    val values = fields.map {
      case "id" => (startRec + rec): java.lang.Long
      case "vec" =>
        bb.position((rec * stride).toInt)
        val d = bb.getInt
        require(d == dim,
          s"corrupt vecs: record ${startRec + rec} has dim=$d, expected $dim")
        if (kind.intElems) {
          val v = new Array[Int](dim)
          var i = 0
          while (i < dim) { v(i) = bb.getInt; i += 1 }
          ArrayData.toArrayData(v)
        } else {
          val v = new Array[Float](dim)
          var i = 0
          if (kind.compBytes == 1)
            while (i < dim) { v(i) = (bb.get() & 0xff).toFloat; i += 1 }
          else
            while (i < dim) { v(i) = bb.getFloat; i += 1 }
          ArrayData.toArrayData(v)
        }
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  override def close(): Unit = ()
}
