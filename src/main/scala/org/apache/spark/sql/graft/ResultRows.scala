package org.apache.spark.sql.graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.{Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** A query result read out for the relay's wire: its rows, or an Arrow
  * stream of them, when they are few, else one parquet file (the
  * physical-plan execution, execution tracking and task-side writer it
  * needs are private[sql]/[spark]). */
object ResultRows {

  /** Execute `df` once, as one job, and return its rows if they fit in
    * `maxBytes` (UnsafeRow bytes), else one parquet file of them written
    * under `dir` (created only then). Each task returns its
    * partition's rows while they fit in the partition's share of
    * `maxBytes`, and writes them to a parquet file of its own once they do
    * not, so a bulk result never reaches the driver and the driver holds
    * at most `maxBytes` of rows. Past the bound, the rows that did come
    * back are written next to the tasks' files, and the files are merged
    * in partition order by copying their row groups. */
  def rowsOrParquet(df: DataFrame, maxBytes: Long,
      dir: Path): Either[Seq[UnsafeRow], Path] = {
    val schema = df.schema
    val qe = df.queryExecution
    val (factory, conf) = parquetWriter(df)
    val parts = SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val rdd = qe.executedPlan.execute()
      val share = maxBytes / math.max(1, rdd.partitions.length)
      val base = dir.toString
      df.sparkSession.sparkContext.runJob(rdd, (ctx: TaskContext, rows: Iterator[InternalRow]) =>
        packOrWrite(rows, share, f"$base/part-${ctx.partitionId()}%05d.parquet",
          factory, conf, schema))
    }
    if (parts.forall(_.isLeft))
      Left(parts.toSeq.flatMap {
        case Left((_, packed)) => unpack(packed, schema.length)
        case Right(_) => Nil
      })
    else {
      val files = parts.toSeq.zipWithIndex.flatMap {
        case (Right(file), _) => Some(file)
        case (Left((n, packed)), i) if n > 0 =>
          val file = dir.resolve(f"rows-$i%05d.parquet").toString
          writeRows(unpack(packed, schema.length), file, factory, conf, schema)
          Some(file)
        case _ => None
      }
      if (files.size == 1) Right(Paths.get(files.head))
      else {
        val out = dir.resolve("result.parquet")
        merge(files, out.toString, conf.value)
        Right(out)
      }
    }
  }

  /** [[rowsOrParquet]]'s answer as one parquet file under `dir`, from the
    * same single execution: rows that came back are written by the driver
    * (an empty result too, as a file of the schema alone). Returns the
    * file and whether the result is empty. */
  def asParquet(df: DataFrame, maxBytes: Long, dir: Path): (Path, Boolean) =
    rowsOrParquet(df, maxBytes, dir) match {
      case Right(file) => (file, false)
      case Left(rows) =>
        val file = dir.resolve("rows.parquet")
        val (factory, conf) = parquetWriter(df)
        writeRows(rows.iterator, file.toString, factory, conf, df.schema)
        (file, rows.isEmpty)
    }

  /** Execute `df` once and return its rows as one Arrow IPC stream, or
    * None once their UnsafeRow bytes pass `maxBytes`. The rows reach the
    * driver a partition at a time, as `toLocalIterator` runs them, and
    * are encoded as they arrive: past the bound the partitions not yet
    * read never run. */
  def arrowWithin(df: DataFrame, maxBytes: Long): Option[Array[Byte]] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("toArrowStream")) {
      var bytes = 0L
      val within = qe.executedPlan.executeToIterator().takeWhile { r =>
        bytes += r.asInstanceOf[UnsafeRow].getSizeInBytes
        bytes <= maxBytes
      }
      val stream = ColumnBridge.toArrowStream(df.schema, within,
        qe.sparkSession.sessionState.conf.sessionLocalTimeZone)
      if (bytes > maxBytes) None else Some(stream)
    }
  }

  /** The writer factory and settings a parquet save of `df` uses — the
    * writer's settings only (prepareWrite sets them from the SQL conf):
    * they ship with every task, and the session's whole Hadoop conf would
    * be ~100 KB and a copy per request. */
  private def parquetWriter(df: DataFrame): (OutputWriterFactory, SerializableConfiguration) = {
    val job = Job.getInstance(new Configuration(false))
    val factory = new ParquetFileFormat().prepareWrite(
      df.sparkSession.asInstanceOf[SparkSession], job, Map.empty, df.schema)
    (factory, new SerializableConfiguration(job.getConfiguration))
  }

  /** A task's half of [[rowsOrParquet]]: the partition's row count and
    * rows packed (each row's size, then its bytes) while they fit in
    * `share` bytes, else the path of the parquet file they were written
    * to. */
  private def packOrWrite(rows: Iterator[InternalRow], share: Long, file: String,
      factory: OutputWriterFactory, conf: SerializableConfiguration,
      schema: StructType): Either[(Int, Array[Byte]), String] = {
    val held = ArrayBuffer.empty[UnsafeRow]
    var bytes = 0L
    while (rows.hasNext && bytes <= share) {
      val r = rows.next().asInstanceOf[UnsafeRow].copy()
      held += r
      bytes += r.getSizeInBytes
    }
    if (!rows.hasNext && bytes <= share) {
      val packed = new ByteArrayOutputStream()
      val out = new DataOutputStream(packed)
      val buf = new Array[Byte](4096)
      held.foreach { r =>
        out.writeInt(r.getSizeInBytes)
        r.writeToStream(out, buf)
      }
      out.flush()
      Left((held.size, packed.toByteArray))
    } else {
      writeRows(held.iterator ++ rows, file, factory, conf, schema)
      Right(file)
    }
  }

  private def unpack(packed: Array[Byte], nFields: Int): Iterator[UnsafeRow] = {
    val in = new DataInputStream(new ByteArrayInputStream(packed))
    Iterator.continually(in).takeWhile(_.available() > 0).map { in =>
      val bytes = new Array[Byte](in.readInt())
      in.readFully(bytes)
      val row = new UnsafeRow(nFields)
      row.pointTo(bytes, bytes.length)
      row
    }
  }

  /** Write `rows` as one parquet file, through the writer and session
    * settings a DataFrame parquet save uses. */
  private def writeRows(rows: Iterator[InternalRow], file: String,
      factory: OutputWriterFactory, conf: SerializableConfiguration,
      schema: StructType): Unit = {
    val ctx = new TaskAttemptContextImpl(conf.value, new TaskAttemptID())
    val writer = factory.newInstance(file, schema, ctx)
    try rows.foreach(writer.write) finally writer.close()
  }

  /** Concatenate parquet files of one schema into `out` by copying their
    * row groups, keeping the first file's key-value metadata (Spark's
    * schema). */
  private def merge(files: Seq[String], out: String, conf: Configuration): Unit = {
    def input(f: String) = HadoopInputFile.fromPath(new HadoopPath(f), conf)
    val first = ParquetFileReader.open(input(files.head))
    val meta = try first.getFooter.getFileMetaData finally first.close()
    val writer = new ParquetFileWriter(
      HadoopOutputFile.fromPath(new HadoopPath(out), conf), meta.getSchema,
      ParquetFileWriter.Mode.CREATE, ParquetWriter.DEFAULT_BLOCK_SIZE,
      ParquetWriter.MAX_PADDING_SIZE_DEFAULT, null, ParquetProperties.builder().build())
    writer.start()
    files.foreach(f => writer.appendFile(input(f)))
    writer.end(meta.getKeyValueMetaData)
  }
}
