package graft.sources.v2

import java.util

import graft.model.Star
import graft.sources.DatFile
import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In, StringStartsWith}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import scala.jdk.CollectionConverters._

/** DataSource V2 for `.dat` light-curve directories — the pushdown seam
  * SURVEY §2.1 designs (`TapClient`/`VizierTapBase` predicate pushdown),
  * implemented for real on the file layout where pruning is physical: the
  * star id IS the file name, so `starId = 'x'` / `starId IN (...)` /
  * `starId LIKE 'p%'` predicates are consumed by the scan and prune the
  * listing to the matching FILES at planning time — a query for one star
  * opens one file no matter how many the directory holds. The surviving
  * files are packed, in name order, into splits by the rule Spark's file
  * sources use (`spark.sql.files.maxPartitionBytes` / `openCostInBytes` /
  * `minPartitionNum`), so the task count follows the bytes read, not the
  * file count. Listing and reads go through Hadoop `FileSystem`, so URI
  * paths (`file:`, `hdfs:`, `s3a:`) work. Column pruning is honored too: a
  * projection without `lightCurves` skips the curve parsing and cleaning
  * kernel entirely.
  *
  * Usage: `spark.read.format("graft.sources.v2.DatDataSource").load(dir)`.
  */
class DatDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Star.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new DatTable(properties.asScala.get("path"))
}

class DatTable(pathProp: Option[String]) extends Table with SupportsRead {
  override def name(): String = s"dat(${pathProp.getOrElse("?")})"
  override def schema(): StructType = Star.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DatScanBuilder(
      pathProp.orElse(Option(options.get("path"))).getOrElse(
        throw new IllegalArgumentException("dat source needs a path")),
      Option(options.get("files_limit")).flatMap(_.toIntOption),
      Option(options.get("sample_fraction")).flatMap(_.toDoubleOption))
}

class DatScanBuilder(path: String, filesLimit: Option[Int] = None,
                     sampleFraction: Option[Double] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = Star.schema

  /** starId predicates prune files (name == id is exact, so equality/IN/
    * prefix are FULLY consumed — no residual re-evaluation needed); other
    * predicates stay with Spark.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (prunable, rest) = filters.partition {
      case EqualTo("starId", _: String)         => true
      case In("starId", _)                      => true
      case StringStartsWith("starId", _)        => true
      case _                                    => false
    }
    pushed = prunable
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new DatScan(path, pushed, required, filesLimit, sampleFraction)
}

class DatScan(path: String, pushed: Array[Filter], required: StructType,
              filesLimit: Option[Int] = None, sampleFraction: Option[Double] = None)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"DatScan(path=$path, pushedFilters=${pushed.mkString("[", ", ", "]")}, " +
      s"readSchema=${required.fieldNames.mkString(",")})"

  private def keep(starId: String): Boolean =
    pushed.forall {
      case EqualTo("starId", v: String)  => starId == v
      case In("starId", vs)              => vs.exists(v => v != null && v.toString == starId)
      case StringStartsWith("starId", p) => starId.startsWith(p)
      case _                             => true
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val files = DatFile.list(spark, path)
      .filter(f => keep(DatFile.starName(f.getPath.getName)))
    // sample pushdown: "files_limit" keeps the first N stars by id,
    // "sample_fraction" keeps floor(n·f) — consumed HERE so a sampled read
    // plans only the surviving files (one job, no count pass; stars are
    // files, so star sampling IS file sampling)
    val sampled = filesLimit match {
      case Some(n) => files.take(n)
      case None => sampleFraction match {
        case Some(f) => files.take((files.length * f).toInt)
        case None    => files
      }
    }
    val conf = spark.sessionState.conf
    DatScan.pack(sampled.map(f => f.getPath.toString -> f.getLen).toSeq,
      conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes,
      conf.filesMinPartitionNum
        .orElse(spark.conf.getOption("spark.sql.leafNodeDefaultParallelism").map(_.toInt))
        .getOrElse(spark.sparkContext.defaultParallelism))
      .map(DatPartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    new DatReaderFactory(required, spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf())))
  }
}

object DatScan {
  /** Spark's file-source split rule (`FilePartition.maxSplitBytes` +
    * `getFilePartitions`) over `(file, length)` pairs kept in the given
    * order: each file costs its length plus `openCost`, the target split
    * is `min(maxBytes, max(openCost, total / minPartitions))`, and a split
    * closes before the file that would overflow it. Files are never cut —
    * a reader parses whole files, so line order is structural.
    */
  def pack(files: Seq[(String, Long)], maxBytes: Long, openCost: Long,
           minPartitions: Int): Seq[Seq[String]] = {
    val total = files.map(_._2 + openCost).sum
    val target = math.min(maxBytes, math.max(openCost, total / math.max(1, minPartitions)))
    val splits = Seq.newBuilder[Seq[String]]
    var current = Vector.empty[String]
    var size = 0L
    files.foreach { case (file, len) =>
      if (current.nonEmpty && size + len > target) {
        splits += current; current = Vector.empty; size = 0L
      }
      current :+= file
      size += len + openCost
    }
    if (current.nonEmpty) splits += current
    splits.result()
  }
}

/** One split: whole `.dat` files, read in order by one task. */
final case class DatPartition(files: Seq[String]) extends InputPartition

class DatReaderFactory(required: StructType, conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new DatPartitionReader(partition.asInstanceOf[DatPartition].files, required, conf.value.value)
}

/** One star row per file of the split; column pruning short-circuits curve
  * parsing (no file is opened for an id-only projection).
  */
class DatPartitionReader(files: Seq[String], required: StructType, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val needCurves = required.fieldNames.contains("lightCurves")
  private val ordinals = required.fieldNames.map(Star.schema.fieldIndex)
  private val types = required.fields.map(_.dataType)
  private val serialize = DatPartitionReader.serializer
  private val remaining = files.iterator
  private var current: InternalRow = _

  override def next(): Boolean = remaining.hasNext && {
    val file = remaining.next()
    val star =
      if (needCurves) DatFile.parse(file, DatFile.read(file, conf))
      else Star(DatFile.starName(file), None, Map.empty, Map.empty, Map.empty, None, Nil)
    // project the full row down to the required columns, by field ordinal
    val full = serialize(star)
    current = InternalRow.fromSeq(ordinals.indices.map(i => full.get(ordinals(i), types(i))))
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}

object DatPartitionReader {
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  import org.apache.spark.sql.Encoders

  /** Star → InternalRow serializer. The generated serializer reuses its
    * row buffer and is NOT thread-safe, so it is per-thread (tasks run one
    * per thread) and the produced row is copied out.
    */
  private val serializerTl =
    ThreadLocal.withInitial[Star => InternalRow](() => {
      val ser = ExpressionEncoder(Encoders.product[Star]
        .asInstanceOf[org.apache.spark.sql.catalyst.encoders.AgnosticEncoder[Star]])
        .createSerializer()
      (s: Star) => ser(s).copy()
    })

  private[v2] def serializer: Star => InternalRow = serializerTl.get()
}
