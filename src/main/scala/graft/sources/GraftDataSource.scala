package graft.sources

import java.util.{Map => JMap}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog._
import graft.mesh.EntityResolver

/** DataSource V2 connector for the federated entity scan (SURVEY §7.2.7 /
  * §2.5): `spark.read.format("graft").option("mesh", ...).option("site", ...)
  * .option("entity", ...)`.
  *
  * Mirrors the reference webengine's pushdown exactness semantics
  * (`webengine/src/web_source.rs:98-160`, `expr_to_sql.rs`):
  *  - P1 projection pushdown: `SupportsPushDownRequiredColumns`;
  *  - P2/P3 per-filter exactness: `SupportsPushDownFilters` accepts only
  *    simple comparisons/IS [NOT] NULL on entity columns with primitive
  *    literals — everything else is reported unsupported and re-applied by
  *    Spark above the scan, exactly like the reference's
  *    `Exact`-vs-`Unsupported` classification;
  *  - P4 per-source limit: `SupportsPushDownLimit` caps each branch (the
  *    reference appends `limit l` to each scan template);
  *  - S5 partitioning: one `InputPartition` per leaf (site, source) branch.
  *
  * Scope (documented): branches must be local file-backed parquet, CSV, or
  * JSON-lines sources (`DataSource.fileSource`); the source SQL may be any
  * Project/Filter chain over the physical relation (derived columns and
  * WHERE clauses compose into the per-row scan expressions); `$.`-path
  * DataFields extract from string/nested-JSON columns in both the connector
  * and resolver paths. Remote-hop and view/JDBC-backed branches are served
  * by the DataFrame resolver path.
  */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (mesh, site, entity, _) = GraftDataSource.resolveOptions(options)
    mesh.site(site).entities(entity).schema
  }

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val (mesh, site, entity, user) = GraftDataSource.resolveOptions(
      new CaseInsensitiveStringMap(properties))
    new GraftTable(mesh, site, entity, user)
  }
}

object GraftDataSource {
  /** Session-level registry of named meshes the connector can serve. */
  val registry: TrieMap[String, Mesh] = TrieMap.empty

  private[sources] def resolveOptions(
      options: CaseInsensitiveStringMap): (Mesh, String, String, Option[String]) = {
    val meshName = Option(options.get("mesh")).getOrElse(
      throw new IllegalArgumentException("graft source requires option 'mesh'"))
    val mesh = registry.getOrElse(meshName,
      throw new IllegalArgumentException(s"mesh '$meshName' not registered"))
    val site = Option(options.get("site")).getOrElse("global")
    val entity = Option(options.get("entity")).getOrElse(
      throw new IllegalArgumentException("graft source requires option 'entity'"))
    (mesh, site, entity, Option(options.get("user")))
  }
}

class GraftTable(mesh: Mesh, siteName: String, entityName: String, user: Option[String])
    extends Table with SupportsRead {
  private val entity = mesh.site(siteName).entities(entityName)

  override def name(): String = s"graft:$siteName/$entityName"
  override def schema(): StructType = entity.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(mesh, siteName, entity, user)
}

class GraftScanBuilder(
    mesh: Mesh, siteName: String, entity: Entity, user: Option[String])
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit {

  private var required: StructType = entity.schema
  private var pushed: Array[sources.Filter] = Array.empty
  private var limit: Option[Int] = None

  /** P2 classification: the shared [[ExactFilters]] rule. */
  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    val (p, rest) = filters.partition(ExactFilters.accepts)
    pushed = p
    rest // unsupported -> Spark re-applies them above the scan
  }
  override def pushedFilters(): Array[sources.Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  override def build(): Scan =
    new GraftScan(mesh, siteName, entity, user, required, pushed, limit)
}

/** One partition per leaf (site, source) branch with everything the
  * executor-side reader needs: file path + format, bound row-filter, bound
  * projections, optional per-branch limit. */
case class GraftInputPartition(
    path: String,
    format: String,            // parquet | csv | json
    fileSchema: StructType,
    rowFilter: Expression,     // bound to file schema
    projections: Seq[Expression], // bound, one per required entity column
    limit: Option[Int],
    readerOptions: Map[String, String], // FileSource options (csv header/sep/quote)
    sessionTimeZone: String)   // session tz for timestamp parsing parity
    extends InputPartition

class GraftScan(
    mesh: Mesh, siteName: String, entity: Entity, user: Option[String],
    required: StructType, pushed: Array[sources.Filter], limit: Option[Int])
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"GraftScan ${siteName}/${entity.name} " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val site = mesh.site(siteName)
    site.localSources.getOrElse(entity.name, Nil).map { ds =>
      val fs = ds.fileSource.getOrElse(throw new IllegalArgumentException(
        s"graft DSv2 scan requires file-backed sources; ${ds.id} has none " +
          "(use the DataFrame resolver path for view/remote/JDBC-backed branches)"))

      // validate BEFORE inference/analysis: an unsupported reader option
      // must fail with the scope message, not a downstream analysis error
      val readerOpts = GraftScan.validatedReaderOptions(fs)

      val fileSchema: Seq[StructField] = fs.format match {
        case "parquet" => parquetFileSchema(fs.path)
        case "csv"     => GraftScan.inferredFileSchema(spark, fs).fields.toSeq
        case "json" =>
          // nested objects/arrays surface as serialized-JSON STRING columns
          // (the `$.`-path DataField contract; the resolver's raw view does
          // the same via to_json) — the executor reader emits the subtree's
          // text and get_json_object extracts from it
          GraftScan.inferredFileSchema(spark, fs).fields.toSeq.map { f =>
            f.dataType match {
              case _: StructType | _: ArrayType | _: MapType =>
                f.copy(dataType = StringType)
              case _ => f
            }
          }
        case other => throw new IllegalArgumentException(
          s"graft DSv2 scan supports parquet/csv/json, got $other")
      }
      val fileAttrs = fileSchema.map(f =>
        AttributeReference(f.name, f.dataType, f.nullable)()).toSeq

      val perm = SourcePermission.evaluate(
        ds.defaultPermission, user.flatMap(ds.userPermissions.get), None)

      def parse(sql: String): Expression =
        spark.sessionState.sqlParser.parseExpression(sql)

      // the branch's source SQL as a logical plan over the physical file
      // relation: parse, substitute the referenced view with a
      // LocalRelation of the file schema (plan-only, no data), and let the
      // analyzer resolve star-expansion/derived columns/coercions — so
      // `SELECT *, a/b AS derived FROM v WHERE p` branches compose into the
      // scan exactly like the resolver path
      val viewName = ds.viewName.getOrElse(ds.id)
      val srcPlan = spark.sessionState.sqlParser.parsePlan(ds.sourceSql)
        .transformUp {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
              if u.multipartIdentifier.map(_.toLowerCase) == Seq(viewName.toLowerCase) =>
            org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(
              viewName, LocalRelation(fileAttrs))
        }

      // entity column -> mapping expression over the source SQL's output
      // columns (or NULL); JSON-path DataFields render via get_json_object
      val mappingExpr: Map[String, Expression] = entity.informations.map { info =>
        val e = ds.mappings.find(_.info == info.name) match {
          case Some(m) if EntityResolver.fieldPathAllowed(perm, m.fieldPath) =>
            Cast(parse(m.transform.render(
              EntityResolver.renderFieldPath(m.fieldPath))), info.dtype)
          case _ => Cast(Literal(null), info.dtype)
        }
        info.name -> e
      }.toMap

      // pushed entity-level filters -> source-level by substituting mappings
      def toExpr(f: sources.Filter): Expression = f match {
        case sources.EqualTo(a, v)            => EqualTo(mappingExpr(a), Literal(v))
        case sources.GreaterThan(a, v)        => GreaterThan(mappingExpr(a), Literal(v))
        case sources.GreaterThanOrEqual(a, v) => GreaterThanOrEqual(mappingExpr(a), Literal(v))
        case sources.LessThan(a, v)           => LessThan(mappingExpr(a), Literal(v))
        case sources.LessThanOrEqual(a, v)    => LessThanOrEqual(mappingExpr(a), Literal(v))
        case sources.IsNull(a)                => IsNull(mappingExpr(a))
        case sources.IsNotNull(a)             => IsNotNull(mappingExpr(a))
        case sources.Not(c)                   => Not(toExpr(c))
        case other => throw new IllegalStateException(s"unpushable filter $other")
      }
      val aclExpr = parse(perm.allowedRows)
      val filterExpr = (Seq(aclExpr) ++ pushed.map(toExpr))
        .reduceLeft[Expression]((a, b) => And(a, b))

      val projExprs = required.fields.map(f => mappingExpr(f.name)).toSeq

      // analyze (resolve/coerce) the mapping layer OVER the source SQL plan,
      // then flatten the whole Project/Filter chain to expressions over the
      // file attributes and bind ordinally for the executor-side reader
      val all = projExprs :+ filterExpr
      val aliased = all.zipWithIndex.map { case (e, i) => Alias(e, s"c$i")() }
      val analyzed = spark.sessionState.analyzer.execute(Project(aliased, srcPlan))
      val (exprById, srcFilter) = GraftScan.flattenToRelation(analyzed)
      val flat = analyzed.output.map(a => exprById(a.exprId))
      val combined = flat.dropRight(1) :+ And(srcFilter, flat.last)
      val bound = combined.map(BindReferences.bindReference(_, fileAttrs.toIndexedSeq))

      GraftInputPartition(
        fs.path, fs.format, StructType(fileSchema), bound.last,
        bound.dropRight(1), limit, readerOpts,
        spark.sessionState.conf.sessionLocalTimeZone): InputPartition
    }.toArray
  }

  private def parquetFileSchema(path: String): Seq[StructField] = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(path), new Configuration()))
    try {
      val msg = reader.getFooter.getFileMetaData.getSchema
      msg.getFields.asScala.toSeq.map { t =>
        val p = t.asPrimitiveType()
        // TIMESTAMP(MICROS) int64 surfaces as TimestampType — the raw long
        // is already the InternalRow micros-since-epoch payload. Other
        // annotations (NANOS legacy data, plain int64) stay raw LongType
        // and mapping transforms convert (e.g. timestamp_micros(ts div 1000)).
        import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
        val dt = p.getPrimitiveTypeName match {
          case INT32  => IntegerType
          case INT64  => p.getLogicalTypeAnnotation match {
            case ts: TimestampLogicalTypeAnnotation if ts.getUnit == TimeUnit.MICROS =>
              TimestampType
            case _ => LongType
          }
          case DOUBLE => DoubleType
          case FLOAT  => FloatType
          case BOOLEAN => BooleanType
          case BINARY => StringType
          case other  => throw new IllegalArgumentException(s"unsupported parquet type $other")
        }
        StructField(t.getName, dt, !t.isRepetition(
          org.apache.parquet.schema.Type.Repetition.REQUIRED))
      }
    } finally reader.close()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory()
}

object GraftScan {
  /** CSV/JSON physical schemas, inferred once per (format, path, options)
    * with the SAME reader options as the resolver path so both paths see
    * identical types. Inference is one driver-side pass at plan time
    * (cached); a production deployment at scale declares the schema in the
    * source config instead. */
  private val inferredSchemaCache =
    TrieMap.empty[(String, String, Map[String, String]), StructType]

  private[sources] def inferredFileSchema(spark: SparkSession, fs: FileSource): StructType =
    inferredSchemaCache.getOrElseUpdate((fs.format, fs.path, fs.options), {
      val effective =
        if (fs.format == "csv") FileSource.csvEffectiveOptions(fs.options)
        else fs.options
      spark.read.format(fs.format).options(effective).load(fs.path).schema
    })

  /** Fail at PLAN time on any reader option the executor-side cursor does
    * not implement — a plan that succeeds must never serve data that
    * diverges from the resolver path. Unsupported-option branches belong
    * on the resolver path (Spark's own readers). Returns the validated
    * effective options to ship in the partition. */
  private[sources] def validatedReaderOptions(fs: FileSource): Map[String, String] =
    fs.format match {
      case "csv" =>
        val eff = FileSource.csvEffectiveOptions(fs.options)
        val supported = Set("header", "inferschema", "sep", "delimiter", "quote", "escape")
        val unknown = eff.keySet.diff(supported)
        require(unknown.isEmpty,
          s"graft DSv2 CSV reader does not implement options $unknown " +
            "(use the DataFrame resolver path for this source)")
        Seq("sep", "delimiter", "quote", "escape").foreach { k =>
          eff.get(k).foreach(v => require(v.length == 1,
            s"graft DSv2 CSV reader supports only single-character '$k', got '$v' " +
              "(use the DataFrame resolver path)"))
        }
        eff
      case "json" =>
        val eff = fs.options.map { case (k, v) => k.toLowerCase -> v }
        val unsupported = eff.filterNot { case (k, v) =>
          k == "multiline" && v.equalsIgnoreCase("false")
        }
        require(unsupported.isEmpty,
          s"graft DSv2 JSON reader does not implement options ${unsupported.keySet} " +
            "(use the DataFrame resolver path for this source)")
        eff
      case _ => fs.options
    }

  /** Flatten an analyzed Project/Filter/SubqueryAlias chain over a single
    * LocalRelation into (output-attr exprId -> expression over the
    * relation's attributes, conjoined Filter condition). Any other operator
    * (join, aggregate, distinct, ...) in the source SQL is out of the
    * connector's scope and raises — those branches run on the resolver
    * path. */
  private[sources] def flattenToRelation(
      plan: LogicalPlan): (Map[ExprId, Expression], Expression) = plan match {
    case l: LocalRelation =>
      (l.output.map(a => a.exprId -> (a: Expression)).toMap, Literal.TrueLiteral)
    case p: Project =>
      val (m, f) = flattenToRelation(p.child)
      def subst(e: Expression): Expression = e.transform {
        case a: AttributeReference if m.contains(a.exprId) => m(a.exprId)
      }
      val entries = p.projectList.map {
        case al @ Alias(child, _)  => al.exprId -> subst(child)
        case a: AttributeReference => a.exprId -> m(a.exprId)
        case other => throw new IllegalArgumentException(
          s"unexpected project element $other")
      }
      (entries.toMap, f)
    case fl: Filter =>
      val (m, f) = flattenToRelation(fl.child)
      val cond = fl.condition.transform {
        case a: AttributeReference if m.contains(a.exprId) => m(a.exprId)
      }
      (m, And(f, cond))
    case s: SubqueryAlias => flattenToRelation(s.child)
    case other => throw new IllegalArgumentException(
      s"graft DSv2 scan supports Project/Filter source SQL over the file " +
        s"relation; got ${other.nodeName} (use the DataFrame resolver path)")
  }
}

class GraftReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftPartitionReader(partition.asInstanceOf[GraftInputPartition])
}

/** Executor-side reader: file records -> file-schema InternalRow -> filter
  * -> projection. No nested Spark jobs; per-branch limit applied here
  * (per-source limit semantics, P4). Record iteration is format-specific
  * (parquet Groups or CSV lines); everything above it is shared. */
class GraftPartitionReader(p: GraftInputPartition)
    extends PartitionReader[InternalRow] {

  private val records: GraftRecordIterator = p.format match {
    case "parquet" => new ParquetRecordIterator(p.path, p.fileSchema)
    case "csv" =>
      new CsvRecordIterator(p.path, p.fileSchema, p.readerOptions, p.sessionTimeZone)
    case "json"    => new JsonRecordIterator(p.path, p.fileSchema)
    case other     => throw new IllegalStateException(s"unsupported format $other")
  }
  private val projection = UnsafeProjection.create(p.projections.toArray)
  private var current: InternalRow = _
  private var emitted = 0

  override def next(): Boolean = {
    if (p.limit.exists(emitted >= _)) return false
    var row = records.nextRow()
    while (row != null) {
      val keep = p.rowFilter.eval(row)
      if (keep != null && keep.asInstanceOf[Boolean]) {
        current = projection(row)
        emitted += 1
        return true
      }
      row = records.nextRow()
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = records.close()
}

/** Format-specific record cursor: returns the next file-schema InternalRow
  * or null at end of input. */
trait GraftRecordIterator {
  def nextRow(): InternalRow
  def close(): Unit
}

class ParquetRecordIterator(path: String, fileSchema: StructType)
    extends GraftRecordIterator {
  private val reader: ParquetReader[Group] =
    ParquetReader.builder(new GroupReadSupport(), new Path(path)).build()
  private val fileRow = new GenericInternalRow(fileSchema.length)

  override def nextRow(): InternalRow = {
    val g = reader.read()
    if (g == null) return null
    var i = 0
    while (i < fileSchema.length) {
      val f = fileSchema(i)
      if (g.getFieldRepetitionCount(i) == 0) fileRow.update(i, null)
      else f.dataType match {
        case IntegerType => fileRow.setInt(i, g.getInteger(i, 0))
        // TimestampType's internal form IS the int64 micros payload
        case LongType | TimestampType => fileRow.setLong(i, g.getLong(i, 0))
        case DoubleType  => fileRow.setDouble(i, g.getDouble(i, 0))
        case FloatType   => fileRow.setFloat(i, g.getFloat(i, 0))
        case BooleanType => fileRow.setBoolean(i, g.getBoolean(i, 0))
        case StringType  => fileRow.update(i, UTF8String.fromString(g.getString(i, 0)))
        case other => throw new IllegalStateException(s"unsupported $other")
      }
      i += 1
    }
    fileRow
  }

  override def close(): Unit = reader.close()
}

/** Line-record cursor over a file or a directory of part files —
  * local-filesystem paths (the connector's documented scope; distributed
  * stores go through the resolver path). Subclasses parse one line into
  * the shared file-schema row. */
abstract class LineRecordIterator(
    path: String, fileSchema: StructType, skipHeaderLine: Boolean)
    extends GraftRecordIterator {
  private val files: Iterator[java.io.File] = {
    val f = new java.io.File(path)
    if (f.isDirectory)
      f.listFiles().filter(x => x.isFile && !x.getName.startsWith(".") &&
        !x.getName.startsWith("_")).sortBy(_.getName).iterator
    else Iterator(f)
  }
  private var reader: java.io.BufferedReader = _
  protected val fileRow = new GenericInternalRow(fileSchema.length)

  private def advanceFile(): Boolean = {
    if (reader != null) reader.close()
    if (!files.hasNext) { reader = null; return false }
    // Spark's text readers decode UTF-8 regardless of platform charset
    reader = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.io.FileInputStream(files.next()),
      java.nio.charset.StandardCharsets.UTF_8))
    if (skipHeaderLine) reader.readLine()
    true
  }
  advanceFile()

  protected def parseLine(line: String): Unit

  override def nextRow(): InternalRow = {
    if (reader == null) return null
    var line = reader.readLine()
    while (line == null) {
      if (!advanceFile()) return null
      line = reader.readLine()
    }
    parseLine(line)
    fileRow
  }

  override def close(): Unit = if (reader != null) reader.close()
}

/** Minimal RFC4180 CSV parsing honoring the same reader options the
  * plan-time schema inference honors (`header`, `sep`/`delimiter`,
  * `quote`): quoted fields, embedded separators/quotes, empty string ->
  * NULL. Malformed cells yield NULL like Spark's PERMISSIVE mode;
  * timestamps parse in the SESSION timezone via Spark's own parsers for
  * resolver parity. */
class CsvRecordIterator(
    path: String, fileSchema: StructType,
    options: Map[String, String], sessionTimeZone: String)
    extends LineRecordIterator(path, fileSchema,
      // options arrive validated + lower-cased (validatedReaderOptions)
      skipHeaderLine = options.getOrElse("header", "true").toBoolean) {

  private val sep = options.getOrElse("sep",
    options.getOrElse("delimiter", ",")).charAt(0)
  private val quote = options.getOrElse("quote", "\"").charAt(0)
  // Spark's CSV writer escapes embedded quotes with `escape` (default \),
  // not only quote-doubling — both forms must read back
  private val esc = options.getOrElse("escape", "\\").charAt(0)
  private val zone = java.time.ZoneId.of(sessionTimeZone)

  override protected def parseLine(line: String): Unit = {
    val cells = splitCsv(line)
    var i = 0
    while (i < fileSchema.length) {
      val raw = if (i < cells.length) cells(i) else null
      if (raw == null || raw.isEmpty) fileRow.update(i, null)
      else fileRow.update(i, convert(raw, fileSchema(i).dataType))
      i += 1
    }
  }

  /** PERMISSIVE-mode conversion: a malformed cell becomes NULL, never an
    * exception — matching the resolver path's Spark CSV reader. */
  private def convert(raw: String, dt: DataType): Any =
    try dt match {
      case IntegerType => Integer.valueOf(raw.trim.toInt)
      case LongType    => java.lang.Long.valueOf(raw.trim.toLong)
      case DoubleType  => java.lang.Double.valueOf(raw.trim.toDouble)
      case BooleanType => java.lang.Boolean.valueOf(raw.trim.toBoolean)
      case StringType  => UTF8String.fromString(raw)
      // Spark's own parsers, so date/timestamp semantics (formats, session
      // timezone) match the resolver's CSV reader exactly
      case DateType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .stringToDate(UTF8String.fromString(raw))
          .map(Integer.valueOf).orNull
      case TimestampType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .stringToTimestamp(UTF8String.fromString(raw), zone)
          .map(java.lang.Long.valueOf).orNull
      case other => throw new IllegalStateException(s"unsupported csv type $other")
    } catch {
      case _: NumberFormatException | _: IllegalArgumentException => null
    }

  /** One CSV record -> cells; quote-pair escaping inside quoted fields. */
  private def splitCsv(line: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new java.lang.StringBuilder
    var inQuotes = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQuotes) {
        if (c == esc && esc != quote && i + 1 < line.length &&
            (line.charAt(i + 1) == quote || line.charAt(i + 1) == esc)) {
          cur.append(line.charAt(i + 1)); i += 1
        } else if (c == quote) {
          if (i + 1 < line.length && line.charAt(i + 1) == quote) { cur.append(quote); i += 1 }
          else inQuotes = false
        } else cur.append(c)
      } else if (c == quote) inQuotes = true
      else if (c == sep) { out += cur.toString; cur.setLength(0) }
      else cur.append(c)
      i += 1
    }
    out += cur.toString
    out.toArray
  }
}

/** JSON-lines parsing via Jackson to the (flattened) inferred file schema.
  * Top-level scalars map directly; nested objects/arrays arrive as
  * StringType (GraftScan flattens the inferred schema) and emit the
  * subtree's serialized text, which `get_json_object` mapping expressions
  * then address with `$.`-paths. Missing/null fields -> NULL. */
class JsonRecordIterator(path: String, fileSchema: StructType)
    extends LineRecordIterator(path, fileSchema, skipHeaderLine = false) {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  override protected def parseLine(line: String): Unit = {
    val node = mapper.readTree(line)
    var i = 0
    while (i < fileSchema.length) {
      val f = fileSchema(i)
      val v = node.get(f.name)
      if (v == null || v.isNull) fileRow.update(i, null)
      else f.dataType match {
        case LongType    => fileRow.setLong(i, v.asLong())
        case IntegerType => fileRow.setInt(i, v.asInt())
        case DoubleType  => fileRow.setDouble(i, v.asDouble())
        case BooleanType => fileRow.setBoolean(i, v.asBoolean())
        case StringType if v.isContainerNode =>
          fileRow.update(i, UTF8String.fromString(v.toString))
        case StringType  => fileRow.update(i, UTF8String.fromString(v.asText()))
        case other => throw new IllegalStateException(s"unsupported json type $other")
      }
      i += 1
    }
  }
}
