package graft.core

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema => ASchema}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericFixed, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.avro.util.Utf8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Connector-free Avro file format on the `org.apache.avro` core API
  * (which ships in every Spark distribution's jars, unlike the
  * `spark-avro` connector the reference adds via `--packages`,
  * run_spark wrapper / spark_utils.py:434-478). [[IO.avro]] and
  * [[IO.writeAvro]] name it by class, so it needs no service
  * registration.
  *
  * It is one Spark `FileFormat`, so Spark's own file scan lists the
  * files, carves the splits, reports input metrics, prunes columns and
  * gives every row its source file (`input_file_name()`,
  * `_metadata.file_path`). A split is a byte range of one container
  * file; the reader `sync`s to the first block boundary after the range
  * start and reads whole blocks while the last-passed sync is still
  * inside the range (`pastSync`) — the standard Hadoop input-split
  * contract, so a block belongs to exactly the split whose range holds
  * the sync marker before it, and contiguous splits partition the
  * record stream. Decode is streaming; memory per task is one record.
  * Writes go through Spark's `FileFormatWriter`: one container file per
  * task, task-attempt staging and `_SUCCESS` from the commit protocol.
  *
  * Type mapping (both directions): null/boolean/int/long/float/double/
  * string/enum→string/bytes/fixed→binary, logical date,
  * timestamp-millis/micros, decimal(bytes|fixed), array, map(string
  * keys), record→struct, union[null,T]→nullable T. Multi-branch unions
  * are rejected with a clear error rather than silently coerced.
  */
class AvroIO extends FileFormat with Serializable {

  /** The header [[inferSchema]] peeked, as JSON: the one reader schema
    * of every file of this relation, so avro's own schema resolution
    * promotes a later file's narrower types (int to long, float to
    * double) and fills its missing nullable fields. Spark infers a
    * relation's schema and builds its scans on one format instance. */
  @transient private var headerJson: String = _

  /** The writer schema of the first non-empty file (a header peek);
    * zero-length placeholders left by interrupted writers carry no
    * header. */
  override def inferSchema(spark: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] =
    files.find(_.getLen > 0).map { f =>
      val header = AvroIO.headerSchema(spark, f.getPath)
      headerJson = header.toString
      AvroIO.toSparkType(header).asInstanceOf[StructType]
    }

  override def isSplitable(spark: SparkSession,
      options: Map[String, String], path: Path): Boolean = true

  /** The peeked header, projected to `requiredSchema`, is the reader
    * schema of every split: avro skips the pruned fields. */
  override def buildReader(spark: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, requiredSchema: StructType,
      filters: Seq[Filter], options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    // SerializableConfiguration is private[spark]: ship the conf as its
    // entry list and rebuild it per file
    val confEntries = hadoopConf.asScala.map(e => e.getKey -> e.getValue)
      .toArray
    require(headerJson != null,
      "AvroIO reads the schema of its files' header; a given schema is " +
        "not supported")
    val readerJson = AvroIO.project(
      new ASchema.Parser().parse(headerJson), requiredSchema).toString
    (file: PartitionedFile) =>
      if (file.fileSize == 0L) Iterator.empty
      else {
        val conf = new Configuration(false)
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        val projected = new ASchema.Parser().parse(readerJson)
        val reader = new DataFileReader[GenericRecord](
          new FsInput(file.toPath, conf),
          new GenericDatumReader[GenericRecord](null, projected))
        Option(TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => reader.close()))
        val end = file.start + file.length
        reader.sync(file.start)
        // closed on exhaust too: a task may read many packed files
        new Iterator[InternalRow] {
          private var open = true
          def hasNext: Boolean = open && {
            open = reader.hasNext && !reader.pastSync(end)
            if (!open) reader.close()
            open
          }
          def next(): InternalRow = AvroIO.toRow(reader.next(), projected)
        }
      }
  }

  /** One snappy container file per task. */
  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val schemaJson =
      AvroIO.toAvroSchema(dataSchema, "topLevelRecord").toString
    new OutputWriterFactory {
      def getFileExtension(context: TaskAttemptContext): String = ".avro"
      def newInstance(file: String, dataSchema: StructType,
          context: TaskAttemptContext): OutputWriter = new OutputWriter {
        private val as = new ASchema.Parser().parse(schemaJson)
        private val writer = {
          val w = new DataFileWriter[GenericRecord](
            new GenericDatumWriter[GenericRecord](as))
          w.setCodec(CodecFactory.snappyCodec())
          val p = new Path(file)
          w.create(as, p.getFileSystem(context.getConfiguration).create(p))
        }
        def write(row: InternalRow): Unit =
          writer.append(AvroIO.toAvroRecord(row, as, dataSchema))
        def close(): Unit = writer.close()
        def path(): String = file
      }
    }
  }

  override def toString: String = "Avro"
  override def equals(other: Any): Boolean = other.isInstanceOf[AvroIO]
  override def hashCode(): Int = getClass.hashCode()
}

object AvroIO {

  // ---------------------------------------------------------------- read

  /** Driver-side header peek: a file's writer schema, via the same
    * Hadoop FileSystem the executors will read through. */
  private def headerSchema(spark: SparkSession, file: Path): ASchema = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val in = file.getFileSystem(hconf).open(file)
    try {
      val stream = new DataFileStream[GenericRecord](in,
        new GenericDatumReader[GenericRecord]())
      try stream.getSchema finally stream.close()
    } finally in.close()
  }

  /** The header's record (a top-level `[null, record]` unwrapped) cut
    * down to `required`'s fields, in its order, defaults kept. */
  private def project(header: ASchema, required: StructType): ASchema = {
    val record =
      if (header.getType == ASchema.Type.UNION) nonNullBranch(header)
      else header
    val fields = required.fields.toSeq.map { f =>
      val w = record.getField(f.name)
      new ASchema.Field(w, w.schema)
    }
    ASchema.createRecord(record.getName, record.getDoc,
      record.getNamespace, record.isError, fields.asJava)
  }

  // ------------------------------------------------- avro -> spark types

  def toSparkType(s: ASchema): DataType = s.getType match {
    case ASchema.Type.NULL    => NullType
    case ASchema.Type.BOOLEAN => BooleanType
    case ASchema.Type.INT =>
      if (s.getLogicalType.isInstanceOf[LogicalTypes.Date]) DateType
      else IntegerType
    case ASchema.Type.LONG => s.getLogicalType match {
      case _: LogicalTypes.TimestampMillis | _: LogicalTypes.TimestampMicros =>
        TimestampType
      case _ => LongType
    }
    case ASchema.Type.FLOAT  => FloatType
    case ASchema.Type.DOUBLE => DoubleType
    case ASchema.Type.STRING | ASchema.Type.ENUM => StringType
    case ASchema.Type.BYTES | ASchema.Type.FIXED => s.getLogicalType match {
      case d: LogicalTypes.Decimal => DecimalType(d.getPrecision, d.getScale)
      case _ => BinaryType
    }
    case ASchema.Type.ARRAY =>
      ArrayType(toSparkType(s.getElementType))
    case ASchema.Type.MAP =>
      MapType(StringType, toSparkType(s.getValueType))
    case ASchema.Type.RECORD =>
      StructType(s.getFields.asScala.toSeq.map { f =>
        StructField(f.name, toSparkType(f.schema),
          nullable = isNullable(f.schema))
      })
    case ASchema.Type.UNION =>
      toSparkType(nonNullBranch(s))
    case other =>
      throw new IllegalArgumentException(s"AvroIO: unsupported avro type $other")
  }

  private def isNullable(s: ASchema): Boolean =
    s.getType == ASchema.Type.NULL ||
      (s.getType == ASchema.Type.UNION &&
        s.getTypes.asScala.exists(_.getType == ASchema.Type.NULL))

  private def nonNullBranch(union: ASchema): ASchema = {
    val branches =
      union.getTypes.asScala.filterNot(_.getType == ASchema.Type.NULL)
    require(branches.size == 1,
      s"AvroIO: multi-branch union unsupported: $union " +
        "(only [null, T] unions map to a Spark type)")
    branches.head
  }

  // ------------------------------------------------ avro -> spark values

  private def toRow(rec: GenericRecord, record: ASchema): InternalRow =
    new GenericInternalRow(record.getFields.asScala.iterator.map(f =>
      fromAvro(rec.get(f.pos), f.schema)).toArray[Any])

  /** An avro datum as the Catalyst value of its [[toSparkType]]. */
  private def fromAvro(v: Any, s: ASchema): Any = {
    if (v == null) return null
    val rs = if (s.getType == ASchema.Type.UNION) nonNullBranch(s) else s
    def decimal(unscaled: Array[Byte], d: LogicalTypes.Decimal) =
      Decimal(new JBigDecimal(new BigInteger(unscaled), d.getScale),
        d.getPrecision, d.getScale)
    rs.getType match {
      case ASchema.Type.STRING | ASchema.Type.ENUM => v match {
        case u: Utf8 => UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
        case other   => UTF8String.fromString(other.toString)
      }
      case ASchema.Type.LONG => rs.getLogicalType match {
        case _: LogicalTypes.TimestampMillis => v.asInstanceOf[Long] * 1000L
        case _ => v // timestamp-micros is Catalyst's own unit
      }
      case ASchema.Type.BYTES =>
        val bb = v.asInstanceOf[ByteBuffer].duplicate()
        val bytes = new Array[Byte](bb.remaining()); bb.get(bytes)
        rs.getLogicalType match {
          case d: LogicalTypes.Decimal => decimal(bytes, d)
          case _ => bytes
        }
      case ASchema.Type.FIXED => rs.getLogicalType match {
        case d: LogicalTypes.Decimal =>
          decimal(v.asInstanceOf[GenericFixed].bytes(), d)
        case _ => v.asInstanceOf[GenericFixed].bytes().clone()
      }
      case ASchema.Type.ARRAY =>
        new GenericArrayData(v.asInstanceOf[java.util.Collection[Any]]
          .asScala.iterator.map(fromAvro(_, rs.getElementType)).toArray[Any])
      case ASchema.Type.MAP =>
        val kv = v.asInstanceOf[java.util.Map[Any, Any]].asScala.toArray
        new ArrayBasedMapData(
          new GenericArrayData(kv.map(e =>
            UTF8String.fromString(e._1.toString))),
          new GenericArrayData(kv.map(e => fromAvro(e._2, rs.getValueType))))
      case ASchema.Type.RECORD => toRow(v.asInstanceOf[GenericRecord], rs)
      case _ => v // boolean/int (and date days)/float/double
    }
  }

  // ------------------------------------------------- spark -> avro types

  def toAvroSchema(dt: DataType, recordName: String): ASchema = dt match {
    case BooleanType => ASchema.create(ASchema.Type.BOOLEAN)
    case IntegerType | ShortType | ByteType => ASchema.create(ASchema.Type.INT)
    case LongType    => ASchema.create(ASchema.Type.LONG)
    case FloatType   => ASchema.create(ASchema.Type.FLOAT)
    case DoubleType  => ASchema.create(ASchema.Type.DOUBLE)
    case StringType  => ASchema.create(ASchema.Type.STRING)
    case BinaryType  => ASchema.create(ASchema.Type.BYTES)
    case DateType =>
      LogicalTypes.date().addToSchema(ASchema.create(ASchema.Type.INT))
    case TimestampType =>
      LogicalTypes.timestampMicros()
        .addToSchema(ASchema.create(ASchema.Type.LONG))
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale)
        .addToSchema(ASchema.create(ASchema.Type.BYTES))
    case ArrayType(et, containsNull) =>
      ASchema.createArray(nullableWrap(toAvroSchema(et,
        recordName + "_item"), containsNull))
    case MapType(StringType, vt, valueContainsNull) =>
      ASchema.createMap(nullableWrap(toAvroSchema(vt,
        recordName + "_value"), valueContainsNull))
    case st: StructType =>
      val fields = st.fields.toSeq.map { f =>
        new ASchema.Field(f.name,
          nullableWrap(toAvroSchema(f.dataType, recordName + "_" + f.name),
            f.nullable),
          null, if (f.nullable) ASchema.Field.NULL_DEFAULT_VALUE else null)
      }
      ASchema.createRecord(recordName, null, "graft.avro", false,
        fields.asJava)
    case other =>
      throw new IllegalArgumentException(
        s"AvroIO: unsupported Spark type for avro write: $other")
  }

  private def nullableWrap(s: ASchema, nullable: Boolean): ASchema =
    if (nullable)
      ASchema.createUnion(ASchema.create(ASchema.Type.NULL), s)
    else s

  // ------------------------------------------------ spark -> avro values

  private def toAvroRecord(r: InternalRow, as: ASchema,
      st: StructType): GenericRecord = {
    val rec = new GenericData.Record(as)
    st.fields.zipWithIndex.foreach { case (f, i) =>
      rec.put(i, if (r.isNullAt(i)) null
        else toAvroValue(r.get(i, f.dataType), as.getFields.get(i).schema,
          f.dataType))
    }
    rec
  }

  /** A Catalyst value as the avro datum of its [[toAvroSchema]]. */
  private def toAvroValue(v: Any, s: ASchema, dt: DataType): Any = {
    val rs = if (s.getType == ASchema.Type.UNION) nonNullBranch(s) else s
    def elems(a: ArrayData, es: ASchema, et: DataType): Seq[Any] =
      (0 until a.numElements()).map(i =>
        if (a.isNullAt(i)) null else toAvroValue(a.get(i, et), es, et))
    dt match {
      case StringType => new Utf8(v.asInstanceOf[UTF8String].getBytes)
      case d: DecimalType =>
        ByteBuffer.wrap(v.asInstanceOf[Decimal].toJavaBigDecimal
          .setScale(d.scale).unscaledValue.toByteArray)
      case BinaryType => ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case ArrayType(et, _) =>
        elems(v.asInstanceOf[ArrayData], rs.getElementType, et).asJava
      case MapType(_, vt, _) =>
        val m = v.asInstanceOf[MapData]
        m.keyArray().toArray[UTF8String](StringType).map(_.toString)
          .zip(elems(m.valueArray(), rs.getValueType, vt)).toMap.asJava
      case inner: StructType =>
        toAvroRecord(v.asInstanceOf[InternalRow], rs, inner)
      case _ => v // boolean/ints/long/float/double; date days and
      // timestamp micros are already the avro logical values
    }
  }
}
