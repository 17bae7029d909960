package graft.sources.dsv2

import java.nio.ByteOrder
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.{MessageType, PrimitiveType, Type}
import org.apache.parquet.schema.LogicalTypeAnnotation._
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types._

import graft.sources.CompactionRunner

import scala.jdk.CollectionConverters._

/** Driver-side delete-file decoding straight from parquet: the requested
  * top-level columns of one file, read with parquet-mr column readers
  * (no Spark job, no row conversion), each value normalized to the
  * domain the masked scan's probe compares in — integral, date and
  * timestamp values as `Long` (epoch days / micros), floating values as
  * `Double` with -0.0 → 0.0, booleans and strings as themselves, null as
  * null. Position files read `(file_path, pos)`, equality files their
  * resolved key columns.
  *
  * A column decodes only when its parquet type is one the session reads
  * as the Spark type the caller passes, by a conversion reproduced here
  * exactly; anything else — an unprobeable type, unsigned or nanosecond
  * integers, a footer that asks for datetime rebasing, INT96 time-zone
  * conversion, a value the session's rebase mode would reject — returns
  * None, and the caller refuses to the row path.
  */
private[dsv2] object DeleteFileDecoder {

  /** The session settings a decode honours, captured on the calling
    * thread (the reads run on the footer pool).
    */
  final case class Settings(
      datetimeRebaseMode: String,
      int96RebaseMode: String,
      int96Conversion: Boolean)

  object Settings {
    def of(spark: SparkSession): Settings = {
      val c = spark.sessionState.conf
      Settings(
        c.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString,
        c.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ).toString,
        c.getConf(SQLConf.PARQUET_INT96_TIMESTAMP_CONVERSION))
    }
  }

  /** Position-delete file columns. */
  val PosColumns: Seq[(String, DataType)] = Seq("file_path" -> StringType, "pos" -> LongType)

  /** The rows of `columns` (top-level name → the Spark type the session
    * reads it as) in the parquet file at `path`, values normalized (see
    * the object doc); None when any column cannot be decoded exactly or
    * the file cannot be read.
    */
  def read(
      path: String,
      columns: Seq[(String, DataType)],
      conf: Configuration,
      settings: Settings): Option[Array[Array[Any]]] =
    try {
      val reader = CompactionRunner.openParquet(path, conf)
      try {
        val meta = reader.getFooter.getFileMetaData
        val schema = meta.getSchema
        val fields: Seq[Option[(Type, ColumnReader => Any)]] = columns.map {
          case (name, dt) =>
            if (!schema.containsField(name)) None
            else {
              val f = schema.getType(schema.getFieldIndex(name))
              if (!f.isPrimitive || f.isRepetition(Type.Repetition.REPEATED)) None
              else decoderFor(f.asPrimitiveType, dt, meta.getKeyValueMetaData, settings)
                .map(f -> _)
            }
        }
        if (!fields.forall(_.isDefined)) None
        else {
          val requested = new MessageType(schema.getName, fields.map(_.get._1).asJava)
          reader.setRequestedSchema(requested)
          val descriptors = columns.map(c => requested.getColumnDescription(Array(c._1)))
          val decoders = fields.map(_.get._2).toArray
          val out = Array.newBuilder[Array[Any]]
          var pages = reader.readNextRowGroup()
          while (pages != null) {
            val store = new ColumnReadStoreImpl(pages, NoConverter, requested, meta.getCreatedBy)
            val readers = descriptors.map(store.getColumnReader).toArray
            val maxDef = descriptors.map(_.getMaxDefinitionLevel).toArray
            var r = 0L
            while (r < pages.getRowCount) {
              val row = new Array[Any](readers.length)
              var i = 0
              while (i < readers.length) {
                if (readers(i).getCurrentDefinitionLevel == maxDef(i))
                  row(i) = decoders(i)(readers(i))
                readers(i).consume()
                i += 1
              }
              out += row
              r += 1
            }
            pages = reader.readNextRowGroup()
          }
          Some(out.result())
        }
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The exact reader of one parquet column as Spark type `dt`, None when
    * the pair is not reproduced here.
    */
  private def decoderFor(
      t: PrimitiveType,
      dt: DataType,
      keyValues: java.util.Map[String, String],
      settings: Settings): Option[ColumnReader => Any] = {
    val ann = t.getLogicalTypeAnnotation
    val signedInt = ann match {
      case null => true
      case i: IntLogicalTypeAnnotation => i.isSigned
      case _ => false
    }
    val fileMeta: String => String = keyValues.get
    (dt, t.getPrimitiveTypeName) match {
      case (BooleanType, BOOLEAN) =>
        Some(c => java.lang.Boolean.valueOf(c.getBoolean))
      case (ByteType | ShortType | IntegerType, INT32) if signedInt =>
        Some(c => java.lang.Long.valueOf(c.getInteger.toLong))
      case (LongType, INT64) if signedInt =>
        Some(c => java.lang.Long.valueOf(c.getLong))
      case (FloatType, FLOAT) =>
        Some(c => GraftColumnarMask.normFloating(c.getFloat.toDouble))
      case (DoubleType, DOUBLE) =>
        Some(c => GraftColumnarMask.normFloating(c.getDouble))
      case (StringType, BINARY) =>
        Some(c => new String(c.getBinary.getBytes, StandardCharsets.UTF_8))
      case (DateType, INT32) if ann.isInstanceOf[DateLogicalTypeAnnotation] =>
        val spec = DataSourceUtils.datetimeRebaseSpec(fileMeta, settings.datetimeRebaseMode)
        if (spec.mode == LegacyBehaviorPolicy.LEGACY) None
        else {
          val rebase = DataSourceUtils.createDateRebaseFuncInRead(spec.mode, "Parquet")
          Some(c => java.lang.Long.valueOf(rebase(c.getInteger).toLong))
        }
      case (TimestampType | TimestampNTZType, INT64) =>
        val toMicros: Option[Long => Long] = ann match {
          case ts: TimestampLogicalTypeAnnotation => ts.getUnit match {
            case TimeUnit.MICROS => Some(identity)
            case TimeUnit.MILLIS => Some(DateTimeUtils.millisToMicros)
            case _ => None
          }
          case _ => None
        }
        val spec = DataSourceUtils.datetimeRebaseSpec(fileMeta, settings.datetimeRebaseMode)
        if (spec.mode == LegacyBehaviorPolicy.LEGACY) None
        else toMicros.map { micros =>
          val rebase = DataSourceUtils.createTimestampRebaseFuncInRead(spec, "Parquet")
          (c: ColumnReader) => java.lang.Long.valueOf(rebase(micros(c.getLong)))
        }
      case (TimestampType, INT96) if !settings.int96Conversion =>
        val spec = DataSourceUtils.int96RebaseSpec(fileMeta, settings.int96RebaseMode)
        if (spec.mode == LegacyBehaviorPolicy.LEGACY) None
        else {
          val rebase = DataSourceUtils.createTimestampRebaseFuncInRead(spec, "Parquet INT96")
          Some { c =>
            val buf = c.getBinary.toByteBuffer.order(ByteOrder.LITTLE_ENDIAN)
            val nanosOfDay = buf.getLong
            val julianDay = buf.getInt
            java.lang.Long.valueOf(rebase(DateTimeUtils.fromJulianDay(julianDay, nanosOfDay)))
          }
        }
      case _ => None
    }
  }

  /** The record converter the column store requires; values are read
    * straight from the column readers, never pushed through it.
    */
  private object NoConverter extends GroupConverter {
    private val primitive = new PrimitiveConverter {}
    override def getConverter(fieldIndex: Int): Converter = primitive
    override def start(): Unit = ()
    override def end(): Unit = ()
  }
}
