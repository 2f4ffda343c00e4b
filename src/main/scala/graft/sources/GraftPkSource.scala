package graft.sources

import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, Transform}
import org.apache.spark.sql.connector.expressions.{SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** PK-sort-aware DataSource V2 over a directory of parquet files that are
  * each sorted by the primary key (the shape a
  * `repartitionByRange(pk).sortWithinPartitions(pk)` write, or Phoenix
  * region files, produce).
  *
  * This is the SURVEY §4b perf-parity item (reference:
  * cc/optimize/QueryOptimizer.java:103 — Phoenix serves rows in rowkey
  * order, so ORDER BY on a PK prefix costs nothing; cc/iterate/
  * ScanRanges.java — scans prune regions/guideposts by key ranges):
  *
  *  - `SupportsReportOrdering`: each partition (= one sorted file) reports
  *    PK ascending order, so Catalyst elides per-partition Sorts (and the
  *    global Sort when a single partition survives pruning).
  *  - file skipping: predicates on the leading PK column are compared to
  *    parquet footer min/max statistics; files whose range cannot match
  *    are never opened — the Spark analog of Phoenix's key-range pruning.
  *    Pruning filters are also kept as residuals, so correctness never
  *    depends on the statistics.
  *
  * Usage:
  * {{{ spark.read.format("graftpk").option("pk", "k").load(dir) }}}
  */
class GraftPkSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftpk"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftPk.inferSchema(options.get("path"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftPkTable(schema, properties.get("path"),
      Option(properties.get("pk")).getOrElse("")
        .split(",").map(_.trim).filter(_.nonEmpty))
  override def supportsExternalMetadata(): Boolean = true
}

private[graft] object GraftPk {
  /** Driver-side Hadoop configuration: the SESSION's (so spark.hadoop.*
    * settings — object-store credentials, custom filesystems — apply),
    * falling back to defaults outside a session. A bare
    * `new Configuration()` never sees the Spark conf and fails on
    * s3a:// paths with missing-credential errors. */
  def hadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** The fs/io/parquet/security subset of the session conf, as plain
    * pairs an executor-side reader can rebuild a Configuration from
    * (Configuration itself is not serializable-stable). */
  def shippableConf(): Array[(String, String)] = {
    val c = hadoopConf()
    val prefixes = Seq("fs.", "io.", "parquet.", "hadoop.security.")
    val it = c.iterator()
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (it.hasNext) {
      val e = it.next()
      if (prefixes.exists(e.getKey.startsWith)) out += e.getKey -> e.getValue
    }
    out.toArray
  }

  def listFiles(dir: String): Seq[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(hadoopConf())
    val stat = fs.getFileStatus(p)
    val files =
      if (stat.isDirectory) fs.listStatus(p).toSeq.map(_.getPath)
      else Seq(p)
    files.filter(f => f.getName.endsWith(".parquet"))
      .sortBy(_.getName.toString)
  }

  def footer(path: Path): MessageType = {
    val in = HadoopInputFile.fromPath(path, hadoopConf())
    val r = ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }

  def inferSchema(dir: String): StructType = {
    val files = listFiles(dir)
    require(files.nonEmpty, s"no parquet files under $dir")
    StructType(footer(files.head).getFields.asScala.toSeq.map { f =>
      StructField(f.getName, toSparkType(f.asPrimitiveType()),
        f.getRepetition != org.apache.parquet.schema.Type.Repetition.REQUIRED)
    })
  }

  def toSparkType(p: PrimitiveType): DataType = {
    val lt = p.getLogicalTypeAnnotation
    // DECIMAL-annotated physical ints/binaries store UNSCALED values:
    // mapping them to the physical type would read 123.45 as 12345 —
    // 100× silent corruption, the same genre as the TIMESTAMP(MILLIS)
    // scale bug this reader already fixed. This source serves the
    // engine's own long/double/string tables; decimal columns must
    // fail LOUDLY toward spark.read.parquet, like any other
    // unsupported shape.
    if (lt.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation])
      throw new IllegalArgumentException(
        s"graftpk does not read DECIMAL-annotated columns " +
          s"(${p.getName}: $lt) — use spark.read.parquet")
    p.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT64
          if lt.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] =>
        TimestampType
      case PrimitiveTypeName.INT64 => LongType
      case PrimitiveTypeName.INT96 => TimestampType // legacy Hive/Spark
      // DATE annotation: Spark's DateType IS days-since-epoch int, so
      // the physical passthrough is the correct VALUE — but the type
      // must say DateType or every consumer sees raw day ordinals
      case PrimitiveTypeName.INT32
          if lt.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
        DateType
      case PrimitiveTypeName.INT32 => IntegerType
      case PrimitiveTypeName.DOUBLE => DoubleType
      case PrimitiveTypeName.FLOAT => FloatType
      case PrimitiveTypeName.BOOLEAN => BooleanType
      case PrimitiveTypeName.BINARY
          if lt == LogicalTypeAnnotation.stringType() => StringType
      case PrimitiveTypeName.BINARY => BinaryType
      case other =>
        throw new IllegalArgumentException(s"unsupported parquet type $other")
    }
  }

  /** (min, max) of the leading-PK column across a file's row groups, from
    * footer statistics; None when stats are missing or the type is not a
    * comparable numeric. */
  def pkRange(path: Path, pkCol: String): Option[(Long, Long)] = {
    val in = HadoopInputFile.fromPath(path, hadoopConf())
    val r = ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.asScala
      val ranges = blocks.flatMap { b =>
        b.getColumns.asScala
          .find(_.getPath.toDotString == pkCol)
          .flatMap { c =>
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue) None
            else (st.genericGetMin, st.genericGetMax) match {
              case (mn: java.lang.Long, mx: java.lang.Long) =>
                Some((mn.longValue, mx.longValue))
              case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                Some((mn.longValue, mx.longValue))
              case _ => None
            }
          }
      }
      if (ranges.isEmpty) None
      else Some((ranges.map(_._1).min, ranges.map(_._2).max))
    } finally r.close()
  }
}

private[graft] class GraftPkTable(tableSchema: StructType, path: String,
    pk: Array[String]) extends Table with SupportsRead {
  override def name(): String = s"graftpk:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftPkScanBuilder(tableSchema, path, pk)
}

private[sources] class GraftPkScanBuilder(schema: StructType, path: String,
    pk: Array[String]) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve file field order; empty projection (e.g. count(*)) keeps
    // zero fields and the reader emits empty rows
    required = StructType(schema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // record leading-PK bounds for file pruning; everything stays residual
    // (Spark re-applies), so stats-based skipping can't break correctness
    pushed = filters.filter(referencesLeadingPk)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  private def referencesLeadingPk(f: Filter): Boolean = pk.headOption.exists {
    k =>
      f match {
        case EqualTo(a, _) => a == k
        case GreaterThan(a, _) => a == k
        case GreaterThanOrEqual(a, _) => a == k
        case LessThan(a, _) => a == k
        case LessThanOrEqual(a, _) => a == k
        case In(a, _) => a == k
        case And(l, r) => referencesLeadingPk(l) || referencesLeadingPk(r)
        case _ => false
      }
  }

  override def build(): Scan =
    new GraftPkScan(schema, required, path, pk, pushed)
}

private[sources] class GraftPkScan(schema: StructType, required: StructType,
    path: String, pk: Array[String], pushed: Array[Filter])
    extends Scan with Batch with SupportsReportOrdering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftPkScan path=$path pk=${pk.mkString(",")} " +
      s"PushedFilters: ${pushed.mkString("[", ", ", "]")}"

  /** Every partition is one PK-sorted file → report PK ascending. Only
    * orderable when the sort columns survive column pruning. */
  override def outputOrdering(): Array[V2SortOrder] =
    if (pk.nonEmpty && pk.forall(required.fieldNames.contains))
      pk.map(c => Expressions.sort(Expressions.column(c),
        SortDirection.ASCENDING))
    else Array.empty

  /** [lo, hi] bound implied by the pushed leading-PK filters (numeric).
    * Every leaf checks the attribute — an And can mix PK and non-PK
    * conjuncts, and a non-PK constant must never tighten the PK range
    * (that would prune files that DO contain matching rows). */
  private def bounds: (Long, Long) = {
    var lo = Long.MinValue
    var hi = Long.MaxValue
    val key = pk.headOption.orNull
    def num(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    def visit(f: Filter): Unit = f match {
      case EqualTo(a, v) if a == key => num(v).foreach { n =>
        lo = math.max(lo, n); hi = math.min(hi, n)
      }
      case GreaterThan(a, v) if a == key => num(v).foreach(n =>
        lo = math.max(lo, if (n < Long.MaxValue) n + 1 else n))
      case GreaterThanOrEqual(a, v) if a == key =>
        num(v).foreach(n => lo = math.max(lo, n))
      case LessThan(a, v) if a == key => num(v).foreach(n =>
        hi = math.min(hi, n - (if (n > Long.MinValue) 1 else 0)))
      case LessThanOrEqual(a, v) if a == key =>
        num(v).foreach(n => hi = math.min(hi, n))
      case In(a, vs) if a == key =>
        val ns = vs.flatMap(num)
        if (ns.nonEmpty && ns.length == vs.length) {
          lo = math.max(lo, ns.min); hi = math.min(hi, ns.max)
        }
      case And(l, r) => visit(l); visit(r)
      case _ =>
    }
    pushed.foreach(visit)
    (lo, hi)
  }

  // ONE directory listing shared by partition planning and the reader
  // factory — on an object store each list is a remote round-trip, and
  // the previous shape paid it twice per query (plus a redundant head
  // footer re-read)
  private lazy val filesCached: Seq[Path] = GraftPk.listFiles(path)

  override def planInputPartitions(): Array[InputPartition] = {
    val (lo, hi) = bounds
    val files = filesCached
    // one footer read per file, shared by the prune and the sort
    val ranges: Map[Path, Option[(Long, Long)]] =
      if (pk.isEmpty) Map.empty
      else files.map(f => f -> GraftPk.pkRange(f, pk.head)).toMap
    val kept = files.filter { f =>
      if (pk.isEmpty || (lo == Long.MinValue && hi == Long.MaxValue)) true
      else ranges(f) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi // ranges intersect
        case None => true // no stats → must read
      }
    }
    // order partitions by file min so a merge-consume sees global PK order
    val ordered =
      if (pk.isEmpty) kept
      else kept.sortBy(f => ranges(f).map(_._1).getOrElse(Long.MinValue))
    ordered.map(f =>
      GraftPkPartition(f.toString): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // ONE footer read at plan time resolves the projection schema, the
    // INT96 column set, and each INT64 timestamp column's UNIT — shipped
    // in the factory so tasks never re-open the footer (the schema is
    // uniform across a table's files by the source contract). The unit
    // matters for correctness, not just speed: Spark timestamps are
    // micros-since-epoch, so a TIMESTAMP(MILLIS)-annotated column read
    // raw would be off by 1000x.
    val fieldNames = required.fields.map(_.name)
    val files = filesCached
    val (projSchema, int96, tsScale) =
      if (files.isEmpty || fieldNames.isEmpty)
        ("", Set.empty[String], Map.empty[String, Long])
      else {
        val full = GraftPk.footer(files.head)
        val b = Types.buildMessage()
        var i96 = Set.empty[String]
        var scale = Map.empty[String, Long]
        fieldNames.foreach { n =>
          val t = full.getType(Seq(n): _*)
          if (t.isPrimitive) {
            val pt = t.asPrimitiveType()
            if (pt.getPrimitiveTypeName == PrimitiveTypeName.INT96)
              i96 += n
            else pt.getLogicalTypeAnnotation match {
              case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                // positive = multiply to micros, negative = divide
                scale += n -> (ts.getUnit match {
                  case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000L
                  case LogicalTypeAnnotation.TimeUnit.MICROS => 1L
                  case LogicalTypeAnnotation.TimeUnit.NANOS => -1000L
                })
              case _ =>
            }
          }
          b.addField(t)
        }
        (b.named(full.getName).toString, i96, scale)
      }
    new GraftPkReaderFactory(required.fields.map(f =>
      (f.name, f.dataType.catalogString)), projSchema, int96, tsScale,
      GraftPk.shippableConf())
  }
}

private[sources] case class GraftPkPartition(file: String)
    extends InputPartition

/** Reads one PK-sorted parquet file via the parquet example Group API and
  * converts rows to InternalRow. (fieldTypes carries catalogString because
  * DataType isn't serializable-stable across executors; projSchema/int96/
  * tsScale were resolved from one plan-time footer read.) */
private[sources] class GraftPkReaderFactory(
    fieldTypes: Array[(String, String)], projSchema: String,
    int96: Set[String], tsScale: Map[String, Long],
    confEntries: Array[(String, String)] = Array.empty)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = new Path(partition.asInstanceOf[GraftPkPartition].file)
    val fields = fieldTypes.map { case (n, t) =>
      (n, org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(t))
    }
    // rebuild the session's fs/io/parquet conf subset on the executor:
    // a bare Configuration would lose object-store credentials set via
    // spark.hadoop.*
    val conf = new Configuration()
    confEntries.foreach { case (k, v) => conf.set(k, v) }
    if (projSchema.nonEmpty)
      conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
        projSchema)
    val isInt96 = int96
    val reader = ParquetReader.builder(new GroupReadSupport(), file)
      .withConf(conf).build()

    new PartitionReader[InternalRow] {
      private var current: Group = _
      override def next(): Boolean = {
        current = reader.read()
        current != null
      }
      override def get(): InternalRow = {
        val row = new GenericInternalRow(fields.length)
        var i = 0
        while (i < fields.length) {
          val (name, dt) = fields(i)
          val idx = current.getType.getFieldIndex(name)
          if (current.getFieldRepetitionCount(idx) == 0) row.setNullAt(i)
          else dt match {
            case TimestampType if isInt96.contains(name) =>
              // INT96: 8-byte nanos-of-day + 4-byte julian day, LE
              val buf = java.nio.ByteBuffer
                .wrap(current.getInt96(idx, 0).getBytes)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              val nanosOfDay = buf.getLong
              val julianDay = buf.getInt
              row.setLong(i,
                (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L)
            case TimestampType =>
              // convert the annotation's unit to Spark's micros —
              // floorDiv, not truncating /: a pre-epoch NANOS value
              // with sub-micro residue must floor like Spark's own
              // parquet conversion, not round toward zero (a silent
              // 1µs late skew on every such instant)
              val raw = current.getLong(idx, 0)
              val sc = tsScale.getOrElse(name, 1L)
              row.setLong(i,
                if (sc >= 0) raw * sc else Math.floorDiv(raw, -sc))
            case LongType => row.setLong(i, current.getLong(idx, 0))
            case IntegerType => row.setInt(i, current.getInteger(idx, 0))
            // DateType is days-since-epoch int — physical passthrough
            case DateType => row.setInt(i, current.getInteger(idx, 0))
            case DoubleType => row.setDouble(i, current.getDouble(idx, 0))
            case FloatType => row.setFloat(i, current.getFloat(idx, 0))
            case BooleanType => row.setBoolean(i, current.getBoolean(idx, 0))
            case StringType =>
              row.update(i, UTF8String.fromBytes(
                current.getBinary(idx, 0).getBytes))
            case BinaryType =>
              row.update(i, current.getBinary(idx, 0).getBytes)
            case other => throw new IllegalArgumentException(
              s"unsupported type $other for column $name")
          }
          i += 1
        }
        row
      }
      override def close(): Unit = reader.close()
    }
  }
}
