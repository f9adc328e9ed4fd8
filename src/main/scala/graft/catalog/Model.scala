package graft.catalog

import org.apache.spark.sql.types._

/** Single-column invertible SQL expression template, e.g. `{v} * 100`.
  *
  * Mirrors the reference's `Transformation`
  * (`core/src/model/mappings.rs:124-150`): `render` substitutes a physical
  * column/expression for the placeholder; `compose` nests one template inside
  * another (f compose g == f∘g — g applied first), which the reference uses to
  * accumulate per-hop transformations across the mesh
  * (`core/src/model/mappings.rs:137-149`).
  */
final case class Transformation(template: String = "{v}", replaceFrom: String = "{v}") {
  import Transformation.{protect, unprotectDoubled, unprotectLiteral}

  /** Substitute `inner` (a column name or SQL expression) into the template.
    *
    * Capture-brace escaping (the reference's `num_capture_braces` semantics,
    * `test/queries.py:17-21`): doubled braces are LITERAL — a template
    * `'{{tax_val}}' = '{{tax_val}}'` renders the text `'{tax_val}' =
    * '{tax_val}'` with no substitution, so brace characters in literal
    * SQL can always be made unambiguous against the `{v}` placeholder. */
  def render(inner: String): String =
    unprotectLiteral(protect(template).replace(replaceFrom, s"($inner)"))

  /** `f.compose(g)`: h = g(f(x)) — substitutes `f`'s template
    * (parenthesized) into `g`'s, exactly mirroring the reference
    * (`core/src/model/mappings.rs:137-149`: self applied first, then other).
    * Both templates' doubled-brace escapes are protected during the string
    * substitution (`{{v}}` CONTAINS the `{v}` token) and restored doubled,
    * so escaping survives any number of hops until the final render. */
  def compose(other: Transformation): Transformation =
    Transformation(
      unprotectDoubled(
        protect(other.template)
          .replace(other.replaceFrom, s"(${protect(template)})")
          .replace(replaceFrom, other.replaceFrom)),
      other.replaceFrom)

  def isIdentity: Boolean = template.trim == replaceFrom
}

object Transformation {
  val identity: Transformation = Transformation()

  // sentinels outside any plausible SQL alphabet; protect/unprotect keep
  // `{{`/`}}` inert while `{v}` tokens are substituted
  private val OpenS = "\u0000GRAFT_LBRACE\u0000"
  private val CloseS = "\u0000GRAFT_RBRACE\u0000"
  private def protect(s: String): String =
    s.replace("{{", OpenS).replace("}}", CloseS)
  private def unprotectDoubled(s: String): String =
    s.replace(OpenS, "{{").replace(CloseS, "}}")
  private def unprotectLiteral(s: String): String =
    s.replace(OpenS, "{").replace(CloseS, "}")
}

/** One named, typed logical field of an Entity
  * (`core/src/model/entity.rs:35-40`). All Entity fields are nullable
  * (`core/src/execute/utils.rs:51-57`). */
final case class Information(name: String, dtype: DataType)

/** Named logical namespace (virtual table) scoped to one Site
  * (`core/src/model/entity.rs:19-22`). */
final case class Entity(name: String, informations: Seq[Information]) {
  def schema: StructType =
    StructType(informations.map(i => StructField(i.name, i.dtype, nullable = true)))
  def info(name: String): Information = informations.find(_.name == name).get
}

/** ACL for one DataSource: allowed physical columns + allowed-rows SQL filter.
  * Algebra mirrors `core/src/model/access_control.rs:66-143`:
  * union = (cols ∪ cols, "(r1) OR (r2)"), intersection = (cols ∩ cols,
  * "(r1) AND (r2)"). */
final case class SourcePermission(allowedColumns: Set[String], allowedRows: String) {
  def union(other: SourcePermission): SourcePermission =
    SourcePermission(
      allowedColumns ++ other.allowedColumns,
      s"(${allowedRows}) OR (${other.allowedRows})")

  def intersection(other: SourcePermission): SourcePermission =
    SourcePermission(
      allowedColumns.intersect(other.allowedColumns),
      s"(${allowedRows}) AND (${other.allowedRows})")
}

object SourcePermission {
  /** Combine default/user/relay policies exactly as
    * `core/src/execute/mod.rs:180-191`: default ∪ (user ∩ relay), degrading
    * to default ∪ user / default ∪ relay / default when absent. */
  def evaluate(
      default: SourcePermission,
      user: Option[SourcePermission],
      relay: Option[SourcePermission]): SourcePermission =
    (user, relay) match {
      case (Some(u), Some(r)) => default.union(u.intersection(r))
      case (None, Some(r))    => default.union(r)
      case (Some(u), None)    => default.union(u)
      case (None, None)       => default
    }
}

/** Information -> physical field link + transformation
  * (`core/src/model/mappings.rs:30-34`). `fieldPath` is the physical column
  * name (possibly a column derived in the source SQL). */
final case class FieldMapping(
    info: String,
    fieldPath: String,
    transform: Transformation = Transformation.identity)

/** Physical file-backed dataset (the FileDirectory connection type,
  * `core/src/execute/data_stores/file_directory.rs:57-141`): read with the
  * Spark reader and bound as `viewName` for the source SQL. */
final case class FileSource(
    format: String, // parquet | csv | json
    path: String,
    options: Map[String, String] = Map.empty)

object FileSource {
  /** Effective CSV reader options: keys lower-cased (Spark reader options
    * are case-insensitive) and graft's header/inferSchema=true defaults
    * applied. The ONE definition the resolver path, the DSv2 schema
    * inference, and the DSv2 executor reader all share — parity between
    * the three depends on them agreeing. */
  def csvEffectiveOptions(options: Map[String, String]): Map[String, String] =
    Map("header" -> "true", "inferschema" -> "true") ++
      options.map { case (k, v) => k.toLowerCase -> v }
}

/** Physical JDBC-backed dataset — the generic delegated-engine runner
  * behind the reference's Trino/FlightSQL connection kinds
  * (`core/src/execute/data_stores/trino.rs:103-200`, `flight_sql.rs:47-163`):
  * the DataSource's `sourceSql` executes ON the external engine as a JDBC
  * derived table, and Spark composes its own column list and WHERE clause
  * over it, so Catalyst projection/filter pushdown flows through the seam
  * into the engine. `options` are Spark JDBC reader options (driver,
  * user, fetchsize, partitionColumn/numPartitions for parallel reads, ...).
  */
final case class JdbcSource(
    url: String,
    options: Map[String, String] = Map.empty)

/** One queryable dataset within a physical connection
  * (`core/src/model/data_stores/mod.rs:39-45`). `sourceSql` is a SQL snippet
  * over `viewName` (bound from `fileSource` if present, otherwise a
  * pre-registered physical temp view), substituted as a derived table. */
final case class DataSource(
    id: String,
    sourceSql: String,
    mappings: Seq[FieldMapping],
    defaultPermission: SourcePermission,
    userPermissions: Map[String, SourcePermission] = Map.empty,
    relayPermissions: Map[String, SourcePermission] = Map.empty,
    fileSource: Option[FileSource] = None,
    viewName: Option[String] = None,
    jdbcSource: Option[JdbcSource] = None)

/** Local Information -> remote field name + transformation
  * (`core/src/model/mappings.rs:106-111`). */
final case class RemoteInfoMapping(
    localInfo: String,
    remoteInfo: String,
    transform: Transformation = Transformation.identity)

/** SQL template translating a remote site's entity into the local entity
  * (`core/src/model/mappings.rs:53-62`). The template references the remote
  * entity by name (reference style, e.g.
  * `select *, tax*extendedprice as tax_amount from lineitem`) or via the
  * `{remote}` placeholder; either is substituted with the resolved remote
  * relation. Default = bare remote entity name
  * (`rest_server/src/admin/utils.rs:191-197`). */
final case class RemoteEntityMapping(
    peer: String,
    remoteEntity: String,
    sqlTemplate: String = "SELECT * FROM {remote}",
    infoMappings: Seq[RemoteInfoMapping]) {
  /** Substitute the remote relation name for `{remote}` in the template;
    * a template naming the remote entity directly is used as written. */
  def renderSql(remoteRelation: String): String =
    sqlTemplate.replace("{remote}", remoteRelation)
}

/** A Relay node: catalog of entities + local sources + peered remotes.
  *
  * `endpoint` marks a site another PROCESS serves over the wire (the
  * reference reaches peers through their Flight/REST endpoints rather than
  * holding their catalogs in-process): a mesh entry with an endpoint is a
  * peer STUB — entities only, typically fetched from the peer's own
  * `/catalog` — and the resolver crosses the network to it
  * ([[graft.transport.RelayClient]]) instead of recursing in-process.
  * URL userinfo, if present (`http://token@host:port`), is sent as the
  * `X-Graft-Token` shared secret (the sandbox stand-in for the reference's
  * mTLS relay identity). */
final case class Site(
    name: String,
    entities: Map[String, Entity],
    localSources: Map[String, Seq[DataSource]] = Map.empty,
    remoteMappings: Map[String, Seq[RemoteEntityMapping]] = Map.empty,
    endpoint: Option[String] = None)

/** The whole data web. */
final case class Mesh(sites: Map[String, Site]) {
  def site(name: String): Site = sites(name)
}

/** Arrow-style dtype string ⇄ Spark DataType codec, for config fidelity with
  * the reference's serialized Arrow `DataType`s
  * (`core/src/model/entity.rs:43-46`). */
object ArrowLikeType {
  def toSpark(s: String): DataType = s.trim.toLowerCase match {
    case "int8"                      => ByteType
    case "int16"                     => ShortType
    case "int32"                     => IntegerType
    case "int64"                     => LongType
    case "uint32"                    => LongType
    case "uint64"                    => LongType
    case "float32"                   => FloatType
    case "float64"                   => DoubleType
    case "utf8" | "largeutf8"        => StringType
    case "bool" | "boolean"          => BooleanType
    case "date32" | "date64"         => DateType
    case "binary" | "largebinary"    => BinaryType
    case t if t.startsWith("timestamp") => TimestampType
    case t if t.startsWith("decimal") =>
      "^decimal(?:128|256)?\\((\\d+)\\s*,\\s*(\\d+)\\)$".r.findFirstMatchIn(t) match {
        case Some(m) => DecimalType(m.group(1).toInt, m.group(2).toInt)
        case None =>
          throw new IllegalArgumentException(s"unsupported arrow dtype: $t")
      }
    case t if t.startsWith("list<") =>
      ArrayType(toSpark(t.stripPrefix("list<").stripSuffix(">")))
    case other => throw new IllegalArgumentException(s"unsupported arrow dtype: $other")
  }

  def fromSpark(dt: DataType): String = dt match {
    case ByteType      => "int8"
    case ShortType     => "int16"
    case IntegerType   => "int32"
    case LongType      => "int64"
    case FloatType     => "float32"
    case DoubleType    => "float64"
    case StringType    => "utf8"
    case BooleanType   => "bool"
    case DateType      => "date32"
    case BinaryType    => "binary"
    case TimestampType => "timestamp(us)"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case a: ArrayType  => s"list<${fromSpark(a.elementType)}>"
    case other => throw new IllegalArgumentException(s"unsupported spark dtype: $other")
  }
}
