package graft.transport

import java.io.OutputStream
import java.nio.channels.Channels
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.ArrowStreamWriter
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Arrow IPC STREAMING serialization of mesh results — the data framing
  * of Arrow Flight (`do_get` bodies are exactly this stream of schema +
  * record batches), carried here over the relay's HTTP surface because
  * the zero-egress build environment has `arrow-vector`/`arrow-format`
  * but no flight-core/gRPC artifacts. With this codec the wire concession
  * vs the reference narrows to the CARRIER (gRPC + mTLS); the payload
  * encoding is the reference's own. It is the sync wire hop's default
  * body; parquet remains the bulk-result path — Arrow streams are
  * driver-serialized and row-capped like the NDJSON export, sized for the
  * mapped/aggregated partials that legitimately cross the mesh wire.
  *
  * Type surface = what mesh results carry: integral/floating scalars,
  * strings, booleans, dates (epoch-day), microsecond timestamps (UTC —
  * the session timezone every graft session pins), binary. Anything else
  * fails loudly rather than degrade. Streams decode back through Spark's
  * own Arrow reader and schema mapping
  * (`org.apache.spark.sql.graft.ColumnBridge.fromArrowStream`), which
  * agrees with [[arrowField]] on every type written here. */
object ArrowCodec {

  val ContentType = "application/vnd.apache.arrow.stream"

  /** The exact type set [[arrowField]] encodes — the relay's content
    * negotiation checks a result schema against it before any response
    * bytes are committed (answering parquet or 406), instead of
    * discovering the IllegalArgumentException mid-stream after the 200
    * header. */
  def supports(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | DoubleType | FloatType |
         StringType | BooleanType | DateType | TimestampType | BinaryType => true
    case _ => false
  }

  private def arrowField(f: StructField): Field = {
    val t = f.dataType match {
      case LongType => new ArrowType.Int(64, true)
      case IntegerType => new ArrowType.Int(32, true)
      case ShortType => new ArrowType.Int(16, true)
      case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
      case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
      case StringType => ArrowType.Utf8.INSTANCE
      case BooleanType => ArrowType.Bool.INSTANCE
      case DateType => new ArrowType.Date(DateUnit.DAY)
      case TimestampType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC")
      case BinaryType => ArrowType.Binary.INSTANCE
      case other =>
        throw new IllegalArgumentException(
          s"arrow transport does not carry ${other.simpleString} " +
            s"(column '${f.name}'); fetch the parquet result instead")
    }
    new Field(f.name, FieldType.nullable(t), null)
  }

  private def tsMicros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  private def setValue(v: FieldVector, i: Int, value: Any): Unit = value match {
    case null => v.setNull(i)
    case x: Long => v.asInstanceOf[BigIntVector].setSafe(i, x)
    case x: Int => v.asInstanceOf[IntVector].setSafe(i, x)
    case x: Short => v.asInstanceOf[SmallIntVector].setSafe(i, x)
    case x: Double => v.asInstanceOf[Float8Vector].setSafe(i, x)
    case x: Float => v.asInstanceOf[Float4Vector].setSafe(i, x)
    case x: String => v.asInstanceOf[VarCharVector].setSafe(i, x.getBytes(UTF_8))
    case x: Boolean => v.asInstanceOf[BitVector].setSafe(i, if (x) 1 else 0)
    case x: java.sql.Date =>
      v.asInstanceOf[DateDayVector].setSafe(i, x.toLocalDate.toEpochDay.toInt)
    case x: java.sql.Timestamp =>
      v.asInstanceOf[TimeStampMicroTZVector].setSafe(i, tsMicros(x))
    case x: Array[Byte] => v.asInstanceOf[VarBinaryVector].setSafe(i, x)
    case other =>
      throw new IllegalArgumentException(
        s"unsupported value class ${other.getClass.getName}")
  }

  /** Write `rows` (external Row representation, `schema`-shaped) as one
    * Arrow IPC stream: schema message, then `batchSize`-row record
    * batches. Pure driver-side serialization — callers bound the row
    * count (see RelayServer's cap). */
  def write(schema: StructType, rows: Iterator[Row], out: OutputStream,
      batchSize: Int = 4096): Unit = {
    val allocator = new RootAllocator()
    try {
      val arrowSchema = new Schema(schema.fields.map(arrowField).toList.asJava)
      val root = VectorSchemaRoot.create(arrowSchema, allocator)
      try {
        val writer = new ArrowStreamWriter(root, null, Channels.newChannel(out))
        writer.start()
        val vectors = root.getFieldVectors.asScala.toIndexedSeq
        while (rows.hasNext) {
          root.allocateNew()
          var n = 0
          while (n < batchSize && rows.hasNext) {
            val row = rows.next()
            var c = 0
            while (c < vectors.length) {
              setValue(vectors(c), n, row.get(c))
              c += 1
            }
            n += 1
          }
          root.setRowCount(n)
          writer.writeBatch()
        }
        writer.end()
      } finally root.close()
    } finally allocator.close()
  }
}
