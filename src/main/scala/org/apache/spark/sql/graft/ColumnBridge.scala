package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public Column(Expression) constructor; the classic
  * bridge is private[sql], so this shim (in the spark.sql namespace) exposes
  * the two conversions the library needs for custom Expressions. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over a custom LogicalPlan (Dataset.ofRows is private[sql]) —
    * the standard library-extension bridge for custom logical operators. */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Parse `sqlText` with the session parser and bind each name in `names`
    * to its DataFrame for this one query, as an outer CTE: a relation
    * reference no inner CTE shadows reads the bound frame, and every
    * other name still resolves through the session catalog. The catalog
    * is neither read nor written for a bound name, so concurrent queries
    * binding the same name to different frames cannot see each other. */
  def bind(
      spark: org.apache.spark.sql.SparkSession,
      sqlText: String,
      names: Map[String, org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{SubqueryAlias, UnresolvedWith}
    val parsed = spark.sessionState.sqlParser.parsePlan(sqlText)
    val plan =
      if (names.isEmpty) parsed
      else UnresolvedWith(parsed, names.toSeq.map { case (n, df) =>
        (n, SubqueryAlias(n, df.queryExecution.analyzed), None)
      })
    ofRows(spark, plan)
  }

  /** The analyzed logical plan of a DataFrame (for embedding as a child of
    * a custom logical operator). */
  def planOf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Encode `rows` of `schema` as one Arrow IPC stream with Spark's own
    * Arrow writer and type mapping, the ones [[fromArrowStream]] reads
    * back: the schema, record batches of at most 4096 rows, then
    * end-of-stream. No rows make a stream of the schema alone. Every
    * field is written nullable, as a parquet answer reads back.
    * Timestamps are instants; `timeZoneId` only labels them. Each row is
    * copied into the batch as it is read, so `rows` may reuse one row. */
  def toArrowStream(
      schema: org.apache.spark.sql.types.StructType,
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      timeZoneId: String): Array[Byte] = {
    import org.apache.arrow.vector.VectorSchemaRoot
    import org.apache.arrow.vector.ipc.ArrowStreamWriter
    import org.apache.spark.sql.execution.arrow.ArrowWriter
    import org.apache.spark.sql.util.ArrowUtils
    val arrowSchema = ArrowUtils.toArrowSchema(schema.asNullable, timeZoneId,
      errorOnDuplicatedFieldNames = true, largeVarTypes = false)
    val out = new java.io.ByteArrayOutputStream()
    val allocator = ArrowUtils.rootAllocator.newChildAllocator("toArrowStream", 0, Long.MaxValue)
    try {
      val root = VectorSchemaRoot.create(arrowSchema, allocator)
      try {
        val writer = ArrowWriter.create(root)
        val stream = new ArrowStreamWriter(root, null, out)
        stream.start()
        while (rows.hasNext) {
          var n = 0
          while (n < 4096 && rows.hasNext) {
            writer.write(rows.next())
            n += 1
          }
          writer.finish()
          stream.writeBatch()
          writer.reset()
        }
        stream.end()
      } finally root.close()
    } finally allocator.close()
    out.toByteArray
  }

  /** Decode one Arrow IPC stream (`ArrowConverters` is private[sql])
    * into compact UnsafeRow copies and a DataFrame over them; returns
    * the frame and its row count. The Arrow buffers are released before
    * this returns, and no job runs.
    *
    * The rows back an RDD with exact size statistics, split like
    * LocalTableScanExec splits a local relation: as a LocalRelation,
    * the optimizer would fold every Filter/Project over them on the
    * driver (ConvertToLocalRelation), one interpreted, boxed row at a
    * time, on each query over the frame. */
  def fromArrowStream(
      spark: org.apache.spark.sql.SparkSession,
      body: Array[Byte]): (org.apache.spark.sql.DataFrame, Int) = {
    import org.apache.spark.sql.catalyst.InternalRow
    val (decoded, schema) =
      org.apache.spark.sql.execution.arrow.ArrowConverters.fromIPCStream(body)
    val rows =
      try {
        val toUnsafe =
          org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
        decoded.map(r => toUnsafe(r).copy()).toVector
      } finally decoded.close()
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sc = session.sparkContext
    val rdd = sc.parallelize[InternalRow](rows,
      math.max(1, math.min(rows.size, sc.defaultParallelism)))
    val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = rows.iterator.map(_.getSizeInBytes.toLong).sum,
      rowCount = Some(rows.size))
    val plan = org.apache.spark.sql.execution.LogicalRDD(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rdd)(
      session, Some(stats), None)
    (org.apache.spark.sql.classic.Dataset.ofRows(session, plan), rows.size)
  }
}
