package graft.transport

import scala.util.Try

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.ExactFilters

/** One wire hop: run `template` (a remote mapping's SQL, rendered against
  * the peer's entity name) on the peer at `endpoint`, as forwarding relay
  * `viaRelay` for `user`, with the request's visited set. `schema` is what
  * the template emits over the peer's catalog schema. */
final case class RelayHop(peer: String, endpoint: String, template: String,
    schema: StructType, user: Option[String], viaRelay: String,
    visited: Set[String], withProvenance: Boolean)

/** An endpoint peer's branch as a DataSource V2 relation — the reference's
  * peer `TableProvider`, whose scan pushes the query's projection and
  * filters into the SQL it sends (`webengine/src/web_source.rs:85-160`).
  *
  * The relation holds no rows. Every query execution plans its own scan:
  * the builder takes Catalyst's required columns and the filters
  * [[ExactFilters]] accepts, and the scan fetches once, on the driver,
  * when it is planned:
  * `SELECT <columns> FROM (<template>) AS __graft_hop WHERE <filters>`
  * through [[RelayClient.syncFetch]] (Arrow in memory, parquet past the
  * peer's bound). The fetch is memoized per scan, so AQE re-planning the
  * same execution does not fetch again, and a new execution always does.
  *
  * Correctness never rests on the peer honouring the pushdown: every
  * filter is also re-applied by Spark above the scan, and the payload is
  * projected to the required columns by name; a missing one fails loudly
  * with the fetched schema. EXPLAIN shows the peer and the SQL sent. */
object RelayScan {

  /** A frame over `hop`'s relation. Every column is nullable: the peer's
    * answer, not its catalog, decides. */
  def frame(spark: SparkSession, hop: RelayHop): DataFrame = {
    val nullable = hop.copy(schema = StructType(hop.schema.map(_.copy(nullable = true))))
    ColumnBridge.ofRows(spark, DataSourceV2Relation.create(new RelayTable(nullable), None, None))
  }

  /** The SQL a scan of `hop` sends for `required` columns and `pushed`
    * filters. With no required column (`count(*)`) it asks for one. */
  private def wireSql(hop: RelayHop, required: StructType,
      pushed: Seq[sources.Filter]): String = {
    val cols = if (required.isEmpty) hop.schema.take(1) else required.fields.toSeq
    val where = pushed.flatMap(render)
    s"SELECT ${cols.map(f => quote(f.name)).mkString(", ")} " +
      s"FROM (${hop.template}) AS __graft_hop" +
      (if (where.isEmpty) "" else where.mkString(" WHERE ", " AND ", ""))
  }

  /** `f` as exact Spark SQL over a top-level column, or None when
    * [[ExactFilters]] does not accept it. */
  private[transport] def render(f: sources.Filter): Option[String] =
    if (!ExactFilters.accepts(f)) None
    else {
      def cmp(a: String, op: String, v: Any) = column(a).map(c => s"$c $op ${literal(v)}")
      f match {
        case sources.EqualTo(a, v)            => cmp(a, "=", v)
        case sources.GreaterThan(a, v)        => cmp(a, ">", v)
        case sources.GreaterThanOrEqual(a, v) => cmp(a, ">=", v)
        case sources.LessThan(a, v)           => cmp(a, "<", v)
        case sources.LessThanOrEqual(a, v)    => cmp(a, "<=", v)
        case sources.IsNull(a)                => column(a).map(c => s"$c IS NULL")
        case sources.IsNotNull(a)             => column(a).map(c => s"$c IS NOT NULL")
        case sources.Not(c)                   => render(c).map(s => s"NOT ($s)")
        case _                                => None
      }
    }

  /** A filter's attribute as a quoted top-level column; a nested field
    * (`a.b`) stays local. */
  private def column(attr: String): Option[String] =
    Try(CatalystSqlParser.parseMultipartIdentifier(attr)).toOption.collect {
      case Seq(name) => quote(name)
    }

  private def quote(name: String): String = "`" + name.replace("`", "``") + "`"

  /** A literal the peer's parser reads back as the same value: dates and
    * timestamps as day and microsecond counts, floating point through its
    * exact decimal string (NaN and the infinities included), strings
    * escaped for Spark's literal rules (quote and backslash). */
  private def literal(v: Any): String = v match {
    case s: String =>
      "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case b: Boolean => if (b) "TRUE" else "FALSE"
    case d: Double => s"CAST('$d' AS DOUBLE)"
    case x: Float => s"CAST('$x' AS FLOAT)"
    case d: java.sql.Date => s"date_from_unix_date(${DateTimeUtils.fromJavaDate(d)})"
    case d: java.time.LocalDate => s"date_from_unix_date(${DateTimeUtils.localDateToDays(d)})"
    case t: java.sql.Timestamp => s"timestamp_micros(${DateTimeUtils.fromJavaTimestamp(t)})"
    case t: java.time.Instant => s"timestamp_micros(${DateTimeUtils.instantToMicros(t)})"
    case n => n.toString // Int, Long, Short, Byte
  }
}

private final class RelayTable(hop: RelayHop) extends Table with SupportsRead {
  override def name(): String = s"relay:${hop.peer}"
  override def schema(): StructType = hop.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RelayScanBuilder(hop)
}

private final class RelayScanBuilder(hop: RelayHop) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var required = hop.schema
  private var pushed = Array.empty[sources.Filter]

  /** Renders what it can and hands every filter back: Spark re-applies
    * them all above the scan. */
  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters.filter(RelayScan.render(_).nonEmpty)
    filters
  }
  override def pushedFilters(): Array[sources.Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new RelayScan(hop, required, pushed.toSeq)
}

private final class RelayScan(hop: RelayHop, required: StructType,
    pushed: Seq[sources.Filter]) extends V1Scan {
  private val sql = RelayScan.wireSql(hop, required, pushed)
  private var fetched: RDD[InternalRow] = _

  override def readSchema(): StructType = required
  override def description(): String = s"RelayScan ${hop.peer}: $sql"

  override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T = {
    val scan = this
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      // buildScan hands back internal rows
      override def needConversion: Boolean = false
      override def buildScan(): RDD[Row] = scan.rows(context.sparkSession).asInstanceOf[RDD[Row]]
      override def toString: String = scan.description()
    }.asInstanceOf[T]
  }

  /** The fetched rows, once per scan: AQE re-planning the same
    * execution reuses them. */
  private def rows(spark: SparkSession): RDD[InternalRow] = synchronized {
    if (fetched == null) fetched = fetch(spark)
    fetched
  }

  private def fetch(spark: SparkSession): RDD[InternalRow] = {
    val df = RelayClient.syncFetch(spark, hop.endpoint, sql, hop.user,
      viaRelay = hop.viaRelay, visited = hop.visited, withProvenance = hop.withProvenance)
    val got = df.schema.fieldNames
    def find(name: String) = got.find(_.equalsIgnoreCase(name))
    val missing = required.fieldNames.filter(find(_).isEmpty)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"wire fetch from peer '${hop.peer}' lacks required column(s) " +
          s"${missing.mkString(", ")}; fetched schema: ${df.schema.simpleString}")
    val exact = df.schema.map(f => (f.name, f.dataType)) ==
      required.map(f => (f.name, f.dataType))
    val projected =
      if (exact) df
      else df.select(required.fields.toSeq.map(f =>
        col(RelayScan.quote(find(f.name).get)).cast(f.dataType).as(f.name)): _*)
    projected.queryExecution.toRdd
  }
}
