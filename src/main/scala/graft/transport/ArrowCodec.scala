package graft.transport

import java.io.OutputStream

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StructType

/** The relay's Arrow IPC stream content type, and an encoder for boxed
  * rows. The stream is the data framing of Arrow Flight (`do_get` bodies
  * are exactly this stream of schema + record batches), carried here over
  * the relay's HTTP surface; the relay encodes and decodes it with
  * Spark's own Arrow writer, reader and type mapping
  * (`org.apache.spark.sql.graft.ColumnBridge`). */
object ArrowCodec {

  val ContentType = "application/vnd.apache.arrow.stream"

  /** Write `rows` (external Row representation, `schema`-shaped) as one
    * Arrow IPC stream: each row is serialized to an internal row, as
    * `createDataFrame` does, then encoded by
    * `ColumnBridge.toArrowStream`. */
  def write(schema: StructType, rows: Iterator[Row], out: OutputStream): Unit = {
    val toInternal = ExpressionEncoder(schema).createSerializer()
    out.write(ColumnBridge.toArrowStream(schema, rows.map(toInternal), "UTC"))
  }
}
