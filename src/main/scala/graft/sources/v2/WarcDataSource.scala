package graft.sources.v2

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.FilePartition
import java.util
import scala.jdk.CollectionConverters._
import graft.SerializableHadoopConf
import graft.core.{Json, JsValue}
import graft.sources.{WarcRow, WarcScan}

/** DataSource V2 WARC reader: `spark.read.format("warc").load(paths…)`,
  * a `WarcRow` per record.
  *
  * The genuinely custom physical component (SURVEY.md §4), on the
  * `WarcScan` core (resolve, plan, open, records):
  *  - paths may be globs, directories or files;
  *  - whole files are packed into tasks by `spark.sql.files.*`, and a
  *    .gz file above the task size fans out as raw-byte-range tasks
  *    synced to gzip-member boundaries; offsets and lengths stay
  *    byte-exact (member-based);
  *  - `SupportsPushDownRequiredColumns`: when `payload` isn't selected
  *    payload bytes are SKIPPED inside the parser, never inflated into
  *    the task (the reference's skipFully-vs-readFully distinction,
  *    indexer.ts:74 vs :232);
  *  - `SupportsPushDownFilters`: warcType equality/IN filters drop
  *    records before row materialization.
  * Option `lenient` (default false): a corrupt file ends its own
  * records instead of failing the query.
  * Files are listed, sized and opened with the session's Hadoop conf
  * (`spark.hadoop.*` settings: schemes, object-store credentials); the
  * readers get it serialized inside the reader factory.
  */
class WarcDataSource extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "warc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = WarcSchema.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val props = properties.asScala
    // `load(a, b)` passes a JSON array (names may hold commas and
    // quotes); `load(a)` passes one path
    val paths = props.get("paths").toSeq.flatMap { json =>
      Json.parse(json) match {
        case Right(JsValue.JsArr(vs)) => vs.collect { case JsValue.JsStr(p) if p.nonEmpty => p }
        case other => throw new IllegalArgumentException(s"bad paths option $json: $other")
      }
    } ++ props.get("path")
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    new WarcTable(spark, WarcScan.resolve(paths, conf), new SerializableHadoopConf(conf))
  }
  override def supportsExternalMetadata(): Boolean = true
}

object WarcSchema {
  val schema: StructType = Encoders.product[WarcRow].schema
}

class WarcTable(spark: SparkSession, files: Seq[FileStatus], conf: SerializableHadoopConf)
    extends Table with SupportsRead {
  override def name(): String = s"warc(${files.map(_.getPath).mkString(",")})"
  override def schema(): StructType = WarcSchema.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(spark, files, options.getBoolean("lenient", false), conf)
}

class WarcScanBuilder(spark: SparkSession, files: Seq[FileStatus], lenient: Boolean,
                      conf: SerializableHadoopConf) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = WarcSchema.schema
  private var typeFilter: Option[Set[String]] = None
  private var pushed: Array[Filter] = Array.empty

  // top-level columns only: a nested-pruned header struct is read whole
  // and Spark prunes it after the scan
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fieldNames.map(WarcSchema.schema(_)))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rest) = filters.partition {
      case EqualTo("warcType", _: String) => true
      case In("warcType", vs) if vs.forall(_.isInstanceOf[String]) => true
      case _ => false
    }
    val sets = accepted.map {
      case EqualTo(_, v: String) => Set(v)
      case In(_, vs)             => vs.map(_.asInstanceOf[String]).toSet
      case _                     => Set.empty[String]
    }
    if (sets.nonEmpty) typeFilter = Some(sets.reduce(_ intersect _))
    pushed = accepted
    rest // Spark still re-evaluates accepted filters unless we claim them
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new WarcScanV2(spark, files, required, typeFilter, lenient, conf)
}

/** One task = a group of whole files, or one RAW BYTE RANGE of an
  * oversized .warc.gz (`WarcScan.plan`) — so a single 100 GB megafile
  * fans out across the cluster instead of pinning one task (SURVEY
  * §2.1/S3: member boundaries are the key to parallel scan). */
class WarcScanV2(spark: SparkSession, files: Seq[FileStatus], required: StructType,
                 typeFilter: Option[Set[String]], lenient: Boolean,
                 conf: SerializableHadoopConf) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    WarcScan.plan(spark, files, splitGz = true).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(required, typeFilter, lenient, conf)
  override def description(): String =
    s"WarcScan(files=${files.length}, columns=${required.fieldNames.mkString(",")}, " +
      s"typeFilter=${typeFilter.map(_.mkString("|")).getOrElse("none")}, lenient=$lenient)"
}

/** Streams each piece's records (`WarcScan.records`) through the
  * `WarcRow` encoder, projected to the required columns. */
class WarcReaderFactory(required: StructType, typeFilter: Option[Set[String]],
                        lenient: Boolean, conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val keepPayload = required.fieldNames.contains("payload")
    val toRow = ExpressionEncoder[WarcRow]().createSerializer()
    val project = UnsafeProjection.create(required.fields.map(f =>
      BoundReference(WarcSchema.schema.fieldIndex(f.name), f.dataType, f.nullable)).toSeq)
    val records = partition.asInstanceOf[FilePartition].files.iterator
      .flatMap(WarcScan.records(_, conf.value, keepPayload, lenient))
      .filter(r => typeFilter.forall(_.contains(Option(r.warcType).getOrElse(""))))
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = records.hasNext && {
        row = project(toRow(WarcRow.fromFramed(records.next())))
        true
      }
      override def get(): InternalRow = row
      // every file `WarcScan.records` opens is closed by its end or the task's
      override def close(): Unit = ()
    }
  }
}
