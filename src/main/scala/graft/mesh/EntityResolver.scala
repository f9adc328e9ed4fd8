package graft.mesh

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog._

/** Resolves an Entity on a Site to a DataFrame, reproducing the reference's
  * observable mesh semantics (SURVEY §7.1) as declarative DataFrame
  * composition instead of SQL-string rewriting:
  *
  *   entityDF(site, entity) =
  *     UNION over mapped local sources of
  *       castToSchema( sql(source_sql)
  *         .where(permission.allowedRows)                 // R7/R8
  *         .select(info -> mapped expr | NULL) )          // R5 null-padding
  *     UNION over peers of
  *       remoteMapping.sqlTemplate applied over entityDF(peer, remoteEntity)
  *       followed by RemoteInfoMapping renames/transforms // R9/R10
  *
  * with a visited-set cycle guard on site names (R12:
  * `core/src/model/query.rs:35-39`, `flight_server/src/flight.rs:543-555`)
  * and `_source_relay_`/`_source_id_` provenance injection (R14:
  * `rest_server/src/query/utils.rs:92-165`).
  *
  * Because each per-source branch is a plain Project/Filter over the physical
  * scan, Catalyst pushes user predicates and column pruning all the way into
  * the parquet scan of every branch — the rebuild's equivalent of the
  * reference's per-source SQL pushdown (`webengine/src/web_source.rs:98-143`),
  * with joins/aggs/sorts supplied by Spark (SURVEY §2.3).
  */
object EntityResolver {
  val SourceRelayCol = "_source_relay_"
  val SourceIdCol    = "_source_id_"

  private val viewCounter = new AtomicLong(0)

  /** Resolve `entityName` as seen from `siteName` for `user`.
    *
    * @param withProvenance append `_source_relay_`/`_source_id_` columns
    *                       identifying the executing leaf (site, source).
    * @param viaRelay the peer relay that forwarded this request, if any
    *   (Requester::Relay — relay ACLs intersect the user grant); None for a
    *   direct user request.
    * @param alsoVisited relay names already on the request's mesh path (the
    *   wire analogue of the in-process visited set: a peer-forwarded request
    *   carries them in `X-Graft-Visited`, reproducing the reference's
    *   request-uuid cycle guard `flight_server/src/flight.rs:543-555`).
    */
  def resolve(
      spark: SparkSession,
      mesh: Mesh,
      siteName: String,
      entityName: String,
      user: Option[String] = None,
      withProvenance: Boolean = false,
      viaRelay: Option[String] = None,
      alsoVisited: Set[String] = Set.empty): DataFrame = {
    // session-level reader behavior, set ONCE at the resolve entry (not
    // inside the per-source branch builder) and ONLY when a PARQUET
    // file-backed source sits on THIS entity's resolution path — CSV/JSON
    // file sources and sources on unrelated entities/sites must not
    // silently alter parquet reads elsewhere in the session:
    // TIMESTAMP(NANOS) parquet columns surface as nanos-longs for mapping
    // transforms to convert, matching the DSv2 connector's raw view.
    // NOT save/restored: the parquet reader re-reads this conf from the
    // session when the returned (lazy) plan finally executes, so
    // restoring it here would break the very scan it was set for.
    if (pathHasParquetFileSource(mesh, siteName, entityName))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    resolveRec(spark, mesh, siteName, entityName, user, withProvenance,
      alsoVisited + siteName, viaRelay)
  }

  /** Does the resolution path of (site, entity) — its local sources plus
    * everything reachable through remote mappings with resolveRec's visited
    * semantics — include a parquet file-backed source? */
  private def pathHasParquetFileSource(
      mesh: Mesh, siteName: String, entityName: String): Boolean =
    pathExists(mesh, siteName, entityName)((s, entity) =>
      s.localSources.getOrElse(entity, Nil)
        .exists(_.fileSource.exists(_.format == "parquet")))

  /** Does the resolution path of (site, entity) reach an endpoint-backed
    * peer? Resolving such a path fetches the peer's rows over the wire
    * into the plan, so the plan holds the rows as of that fetch. */
  private[graft] def pathReachesEndpoint(
      mesh: Mesh, siteName: String, entityName: String): Boolean =
    pathExists(mesh, siteName, entityName)((s, _) =>
      s.name != siteName && s.endpoint.nonEmpty)

  /** Walk (site, entity) and every (peer, remote entity) its remote
    * mappings reach, with resolveRec's visited semantics; true once
    * `hit` holds for one of them. */
  private def pathExists(mesh: Mesh, siteName: String, entityName: String)(
      hit: (Site, String) => Boolean): Boolean = {
    def walk(site: String, entity: String, visited: Set[String]): Boolean = {
      val s = mesh.site(site)
      hit(s, entity) ||
        s.remoteMappings.getOrElse(entity, Nil)
          .filterNot(rm => visited.contains(rm.peer))
          .filter(rm => mesh.sites.contains(rm.peer)) // offline peers skipped
          .exists(rm => walk(rm.peer, rm.remoteEntity, visited + rm.peer))
    }
    walk(siteName, entityName, Set(siteName))
  }

  /** Catalog-driven enumeration of the provenance branch keys a resolved
    * entity will carry for `user` — the leaf (relay, sourceId) endpoints a
    * `get_flight_info` response would list
    * (`flight_server/src/flight.rs:194-309`), refined by which remote hops
    * actually keep each provenance column flowing. No data is scanned: a hop
    * whose `sqlTemplate` drops `_source_relay_` and/or `_source_id_` (no
    * `SELECT *`) is detected by analyzing the rendered template against a
    * schema-only probe view, exactly mirroring `remoteMappedDF`'s per-column
    * runtime check; each dropped column degrades to `None` independently, so
    * a template keeping only the relay yields `(Some(relay), None)` branches
    * and one dropping both collapses its subtree to `(None, None)`. Sources
    * whose ACL row filter for `user` folds to constant FALSE contribute no
    * rows and are omitted, matching the data's observable provenance. */
  def provenanceBranches(
      spark: SparkSession,
      mesh: Mesh,
      siteName: String,
      entityName: String,
      user: Option[String] = None,
      viaRelay: Option[String] = None,
      alsoVisited: Set[String] = Set.empty): Seq[(Option[String], Option[String])] = {
    def walk(site: String, entity: String, visited: Set[String],
        viaRelay: Option[String]): Seq[(Option[String], Option[String])] = {
      val s = mesh.site(site)
      val local = s.localSources.getOrElse(entity, Nil)
        .filterNot { ds =>
          // same requester model as resolveRec: hops carry Requester::Relay
          val perm = SourcePermission.evaluate(
            ds.defaultPermission, user.flatMap(ds.userPermissions.get),
            viaRelay.flatMap(ds.relayPermissions.get))
          constantFalseFilter(spark, perm.allowedRows)
        }
        .map(ds => (Option(site), Option(ds.id)))
      val remote = s.remoteMappings.getOrElse(entity, Nil)
        .filterNot(rm => visited.contains(rm.peer))
        .filter(rm => knownPeer(mesh, rm))
        .flatMap { rm =>
          // an endpoint-bearing peer is served by another process: its leaf
          // branches come over the wire (the reference's get_flight_info
          // mesh propagation, `flight_server/src/flight.rs:194-309`)
          val sub = mesh.sites.get(rm.peer).flatMap(_.endpoint) match {
            case Some(url) => graft.transport.RelayClient.flightInfo(
              url, rm.remoteEntity, user, viaRelay = site,
              visited = visited + rm.peer)
            case None => walk(rm.peer, rm.remoteEntity, visited + rm.peer, Some(site))
          }
          if (sub.isEmpty) Nil
          else {
            val (keepsRelay, keepsId) = templateProvenance(spark, mesh, rm)
            sub.map { case (relay, id) =>
              (if (keepsRelay) relay else None, if (keepsId) id else None)
            }.distinct
          }
        }
      local ++ remote
    }
    walk(siteName, entityName, alsoVisited + siteName, viaRelay).distinct
  }

  /** R9 rendered as wire SQL: map the user's request into peer `rm.peer`'s
    * namespace so the PEER can execute it end-to-end and push back partial
    * results already in the origin's semantic space — the reference's
    * `map_remote_request` before a remote task is re-POSTed
    * (`core/src/execute/map_remote.rs:17-63`, `query_runner/src/lib.rs:184-221`).
    *
    * An identity hop (same entity name, default template, identity info
    * mappings) forwards the SQL unchanged. Otherwise the hop becomes a CTE
    * NAMED AFTER THE REMOTE ENTITY wrapping the rendered template + info
    * transforms (each a `CAST(transform(remoteField) AS dtype) AS localInfo`
    * projection; unmapped/unavailable infos NULL-pad exactly like
    * `remoteInfoProjection`). The CTE carries the remote name because the
    * peer's validator counts CTE-alias references like sqlparser-rs
    * `visit_relations` does — a fresh alias would read as a second entity —
    * so when local and remote names differ, the user text is re-pointed at
    * the remote name by the same word-boundary substitution `renderSql`
    * itself uses. Inside the (non-recursive) CTE body the self-name resolves
    * to the peer's real entity view, standard SQL scoping. */
  private[graft] def mapRemoteRequestSql(
      spark: SparkSession,
      mesh: Mesh,
      entity: Entity,
      rm: RemoteEntityMapping,
      userSql: String): String = {
    val sameName = rm.remoteEntity.equalsIgnoreCase(entity.name)
    val identityHop = sameName &&
      rm.renderSql(rm.remoteEntity).trim
        .equalsIgnoreCase(s"SELECT * FROM ${rm.remoteEntity}") &&
      entity.informations.forall { info =>
        rm.infoMappings.exists(m => m.localInfo == info.name &&
          m.remoteInfo == info.name && m.transform == Transformation.identity)
      }
    if (identityHop) return userSql
    // which columns does the rendered template actually emit? (schema-only
    // probe — mirrors remoteInfoProjection's runtime availability check)
    val remoteSchema = mesh.site(rm.peer).entities(rm.remoteEntity).schema
    val probeName = s"__graft_probe_${viewCounter.incrementAndGet()}"
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], remoteSchema)
      .createOrReplaceTempView(probeName)
    val available =
      try spark.sql(rm.renderSql(probeName)).columns.toSet
      finally spark.catalog.dropTempView(probeName)
    val proj = entity.informations.map { info =>
      rm.infoMappings.find(_.localInfo == info.name) match {
        case Some(m) if available.contains(m.remoteInfo) =>
          s"CAST(${m.transform.render(m.remoteInfo)} AS ${info.dtype.sql}) AS ${info.name}"
        case _ => s"CAST(NULL AS ${info.dtype.sql}) AS ${info.name}"
      }
    }.mkString(", ")
    val hop = s"SELECT $proj FROM (${rm.renderSql(rm.remoteEntity)}) AS __graft_hop"
    val pointed =
      if (sameName) userSql
      else userSql.replaceAll(
        s"(?i)\\b${java.util.regex.Pattern.quote(entity.name)}\\b",
        java.util.regex.Matcher.quoteReplacement(rm.remoteEntity))
    val trimmed = pointed.trim
    if (trimmed.matches("(?is)^with\\b.*"))
      s"WITH ${rm.remoteEntity} AS ($hop), ${trimmed.substring(4).trim}"
    else s"WITH ${rm.remoteEntity} AS ($hop) $trimmed"
  }

  /** Plan-only check: which provenance columns does `rm.sqlTemplate` keep?
    * Analyzes the rendered template over an empty probe view carrying the
    * remote entity schema + provenance columns — Catalyst analysis only,
    * no job runs. Returns (keeps `_source_relay_`, keeps `_source_id_`). */
  private def templateProvenance(
      spark: SparkSession, mesh: Mesh, rm: RemoteEntityMapping): (Boolean, Boolean) = {
    val remoteSchema = mesh.site(rm.peer).entities(rm.remoteEntity).schema
    val probeSchema = StructType(remoteSchema.fields ++ Seq(
      StructField(SourceRelayCol, StringType), StructField(SourceIdCol, StringType)))
    val probeName = s"__graft_probe_${viewCounter.incrementAndGet()}"
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], probeSchema)
      .createOrReplaceTempView(probeName)
    try {
      val cols = spark.sql(rm.renderSql(probeName)).columns.toSet
      (cols.contains(SourceRelayCol), cols.contains(SourceIdCol))
    } finally spark.catalog.dropTempView(probeName)
  }

  /** A RemoteEntityMapping whose peer is absent from the mesh (an offline
    * relay whose catalog registration was skipped) contributes nothing: the
    * rest of the web keeps working, mirroring the reference's per-peer
    * log-and-skip (`flight_server/src/flight.rs:302-307` and the dev web's
    * `offline_data_relay` fixture). */
  private def knownPeer(mesh: Mesh, rm: RemoteEntityMapping): Boolean = {
    val known = mesh.sites.contains(rm.peer)
    if (!known)
      System.err.println(
        s"[resolve] peer ${rm.peer} not registered in the mesh (offline?) — skipping")
    known
  }

  /** Plan-only check: does `rowFilter` fold to constant FALSE (the
    * reference's deny-all `1 = 0` policy shape)? Evaluated by optimizing a
    * filter over a one-row, zero-column local relation — a filter that
    * references source columns fails analysis on the probe and
    * conservatively counts as non-constant. */
  private def constantFalseFilter(spark: SparkSession, rowFilter: String): Boolean =
    try {
      val probe = spark.createDataFrame(
        java.util.Collections.singletonList(Row()), StructType(Nil))
      probe.where(expr(rowFilter)).queryExecution.optimizedPlan match {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          l.data.isEmpty
        case _ => false
      }
    } catch { case scala.util.control.NonFatal(_) => false }

  private def resolveRec(
      spark: SparkSession,
      mesh: Mesh,
      siteName: String,
      entityName: String,
      user: Option[String],
      withProvenance: Boolean,
      visited: Set[String],
      viaRelay: Option[String] = None): DataFrame = {
    val site = mesh.site(siteName)
    val entity = site.entities(entityName)

    val localParts: Seq[DataFrame] =
      site.localSources.getOrElse(entityName, Nil).map { ds =>
        localSourceDF(spark, site, entity, ds, user, viaRelay, withProvenance)
      }

    val remoteParts: Seq[DataFrame] =
      site.remoteMappings.getOrElse(entityName, Nil)
        .filterNot(rm => visited.contains(rm.peer))
        .filter(rm => knownPeer(mesh, rm))
        .map { rm =>
          // the peer sees THIS site as the direct requester
          // (Requester::Relay), while the originating user's identity
          // still flows for the user∩relay policy term
          // (`core/src/execute/mod.rs:150-191`)
          mesh.sites.get(rm.peer).flatMap(_.endpoint) match {
            case Some(url) =>
              // WIRE hop: the peer is another process. The mapping template
              // is rendered against the peer's entity name and EXECUTES ON
              // THE PEER (the reference ships the mapped request to the
              // remote relay, `core/src/execute/map_remote.rs` semantics);
              // identity, user, and the visited set cross in headers, and
              // the result comes back as an Arrow stream decoded into
              // in-memory rows (parquet past the peer's wire Arrow bound
              // or row cap, or for types the codec does not carry), so
              // only a small result is held in memory here. The fetch
              // happens at resolve time — the reference's get_flight_info
              // + do_get are likewise issued when the scan is planned —
              // so the plan holds the peer's rows as of this call.
              val templated = graft.transport.RelayClient.syncFetch(
                spark, url, rm.renderSql(rm.remoteEntity), user,
                viaRelay = siteName, visited = visited + rm.peer,
                withProvenance = withProvenance)
              // On the WIRE path the peer appends provenance itself when
              // asked (sqlForPeer resolves with withProvenance=true before
              // applying the template), so unless the mapping template
              // itself drops the columns (a legitimate choice the
              // plan-only templateProvenance probe detects), a payload
              // missing them is a protocol fault. Degrading to NULL here
              // (as the in-process projection legitimately does for
              // provenance-dropping templates) would silently flip result
              // hashes while keeping row counts/schema intact — fail
              // loudly with the fetched schema instead.
              if (withProvenance) {
                val (keepsRelay, keepsId) = templateProvenance(spark, mesh, rm)
                val expected = Seq(
                  SourceRelayCol -> keepsRelay, SourceIdCol -> keepsId)
                  .collect { case (c, true) => c }
                val got = templated.columns.toSet
                val missing = expected.filterNot(got)
                if (missing.nonEmpty)
                  throw new IllegalStateException(
                    s"wire fetch from peer '${rm.peer}' ($url) requested " +
                      s"provenance but the payload lacks ${missing.mkString(", ")}; " +
                      s"fetched schema: ${templated.schema.simpleString}")
              }
              remoteInfoProjection(entity, rm, templated, withProvenance)
            case None =>
              val remoteDF = resolveRec(
                spark, mesh, rm.peer, rm.remoteEntity, user, withProvenance,
                visited + rm.peer, viaRelay = Some(siteName))
              remoteMappedDF(spark, entity, rm, remoteDF, withProvenance)
          }
        }

    val parts = localParts ++ remoteParts
    if (parts.isEmpty) emptyDF(spark, entity, withProvenance)
    else parts.reduce(_.unionByName(_))
  }

  /** One local source branch: ACL row filter + mapped/transformed/null-padded
    * projection + cast to the declared entity schema (R5-R8, R13). */
  private def localSourceDF(
      spark: SparkSession,
      site: Site,
      entity: Entity,
      ds: DataSource,
      user: Option[String],
      viaRelay: Option[String],
      withProvenance: Boolean): DataFrame = {
    val perm = SourcePermission.evaluate(
      ds.defaultPermission,
      user.flatMap(ds.userPermissions.get),
      // a hop-forwarded request is Requester::Relay(peer): the peer's
      // relay policy intersects the user grant (default ∪ (user ∩ relay),
      // `core/src/execute/mod.rs:150-191`); a direct request has none
      viaRelay.flatMap(ds.relayPermissions.get))

    // file-backed sources (FileDirectory runner, S1): read + register the
    // physical relation the source SQL refers to. JSON nested objects/
    // arrays surface as their serialized TEXT: the reference's DataField
    // `$.`-path contract addresses a JSON document stored in a column
    // (`core/src/model/data_stores/mod.rs:55-62`), so `get_json_object`
    // must see a string — and the DSv2 connector's raw view agrees.
    ds.fileSource.foreach { fs =>
      val effective =
        if (fs.format == "csv") FileSource.csvEffectiveOptions(fs.options)
        else fs.options
      val raw = spark.read.format(fs.format).options(effective).load(fs.path)
      val flattened =
        if (fs.format != "json") raw
        else raw.select(raw.schema.fields.map { f =>
          f.dataType match {
            case _: org.apache.spark.sql.types.StructType |
                 _: org.apache.spark.sql.types.ArrayType |
                 _: org.apache.spark.sql.types.MapType =>
              org.apache.spark.sql.functions.to_json(col(f.name)).as(f.name)
            case _ => col(f.name)
          }
        }.toSeq: _*)
      flattened.createOrReplaceTempView(ds.viewName.getOrElse(ds.id))
      // no fixture source id collides with a shared view name today, but a
      // catalog whose viewName/id matches one must bump the epoch or the
      // epoch-guarded helpers would leave the shadow unrepaired
      ViewEpoch.noteShadow()
    }

    // view-backed sources whose SQL references a relation named like the
    // entity would silently read a previously-registered entity view after
    // a MeshSession query (ACL/transforms applied twice, possibly under
    // another user) — refuse loudly and point at the raw_-prefix convention
    if (ds.fileSource.isEmpty && ds.jdbcSource.isEmpty) {
      val rels = graft.validation.SqlValidator.relationNamesOf(ds.sourceSql, spark)
      if (rels.contains(entity.name))
        throw new IllegalStateException(
          s"source ${ds.id} reads relation '${entity.name}', which collides with " +
            s"the entity name and would be shadowed by a registered entity view; " +
            "register the physical relation under a distinct name (e.g. " +
            s"'raw_${entity.name}') and reference that in source_sql")
    }

    // delegated-engine seam (S3/S4): `sourceSql` executes ON the external
    // engine as a JDBC derived table; the ACL row filter and any user
    // predicates Catalyst pushes into this scan are serialized into the
    // engine-side WHERE clause by Spark's JDBC source — the reference's
    // TrinoRunner shape (`core/src/execute/data_stores/trino.rs:103-200`),
    // with per-source SQL pushdown intact across the seam
    val src = ds.jdbcSource match {
      case Some(js) =>
        spark.read.format("jdbc")
          .options(js.options)
          .option("url", js.url)
          // alias must be a plain identifier — engines like Derby reject a
          // leading underscore
          .option("dbtable", s"(${ds.sourceSql}) AS graft_delegated")
          .load()
          .where(expr(perm.allowedRows))
      case None =>
        spark.sql(ds.sourceSql).where(expr(perm.allowedRows))
    }

    val projected = entity.informations.map { info =>
      ds.mappings.find(_.info == info.name) match {
        case Some(m) if fieldPathAllowed(perm, m.fieldPath) =>
          expr(m.transform.render(renderFieldPath(m.fieldPath)))
            .cast(info.dtype).as(info.name)
        case _ =>
          // unmapped or ACL-denied -> NULL literal, never an error
          // (`core/src/execute/parse_utils.rs:211-216`)
          lit(null).cast(info.dtype).as(info.name)
      }
    }
    val prov =
      if (withProvenance)
        Seq(lit(site.name).as(SourceRelayCol), lit(ds.id).as(SourceIdCol))
      else Nil
    src.select(projected ++ prov: _*)
  }

  /** One remote branch: apply the peer's RemoteEntityMapping SQL template to
    * the recursively-resolved remote entity, then per-info renames/transforms.
    * Transformation composition across hops (R10) happens by nesting exprs at
    * each hop — semantically identical to the reference's template
    * composition (`core/src/model/mappings.rs:137-149`). */
  private def remoteMappedDF(
      spark: SparkSession,
      entity: Entity,
      rm: RemoteEntityMapping,
      remoteDF: DataFrame,
      withProvenance: Boolean): DataFrame = {
    val viewName = (s"__graft_remote_${rm.peer}_${rm.remoteEntity}_" +
      viewCounter.incrementAndGet()).replaceAll("[^A-Za-z0-9_]", "_")
    remoteDF.createOrReplaceTempView(viewName)
    ViewEpoch.noteShadow() // counter-suffixed, but shadow-proof is cheap
    // spark.sql analyzes eagerly, so the captured plan no longer needs the
    // view — drop it to keep a long-running session's catalog bounded
    val templated = spark.sql(rm.renderSql(viewName))
    spark.catalog.dropTempView(viewName)
    remoteInfoProjection(entity, rm, templated, withProvenance)
  }

  /** RemoteInfoMapping renames/transforms + provenance passthrough over an
    * already-templated remote relation — shared by the in-process path
    * (template applied locally) and the wire path (template executed on the
    * peer, result fetched over the wire). */
  private[graft] def remoteInfoProjection(
      entity: Entity,
      rm: RemoteEntityMapping,
      templated: DataFrame,
      withProvenance: Boolean): DataFrame = {
    val available = templated.columns.toSet
    val projected = entity.informations.map { info =>
      rm.infoMappings.find(_.localInfo == info.name) match {
        case Some(m) if available.contains(m.remoteInfo) =>
          expr(m.transform.render(m.remoteInfo)).cast(info.dtype).as(info.name)
        case _ => lit(null).cast(info.dtype).as(info.name)
      }
    }
    val prov =
      if (withProvenance) {
        // provenance flows through from the executing leaf; templates that
        // drop it (no SELECT *) degrade to NULL provenance for that branch
        Seq(SourceRelayCol, SourceIdCol).map { c =>
          (if (available.contains(c)) col(c) else lit(null).cast(StringType)).as(c)
        }
      } else Nil
    templated.select(projected ++ prov: _*)
  }

  private def emptyDF(spark: SparkSession, entity: Entity, withProvenance: Boolean): DataFrame = {
    val schema =
      if (withProvenance)
        StructType(entity.schema.fields ++ Seq(
          StructField(SourceRelayCol, StringType), StructField(SourceIdCol, StringType)))
      else entity.schema
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Render a DataField path as a SQL expression: plain column names pass
    * through; nested JSON paths (`$.props.k`, `$.arr.[1].f` — the
    * reference's DataField.path contract,
    * `core/src/model/data_stores/mod.rs:55-62`) address their first segment
    * as the physical column and the remainder with `get_json_object`. */
  private[graft] def renderFieldPath(path: String): String =
    if (!path.startsWith("$.")) path
    else {
      val rest = path.replace(".[", "[").drop(2) // reference writes `.[1].`
      val cut = rest.indexWhere(c => c == '.' || c == '[')
      if (cut < 0) s"`$rest`" // `$.col` = a top-level field
      else s"get_json_object(`${rest.substring(0, cut)}`, '$$${rest.substring(cut)}')"
    }

  /** For `$.`-prefixed paths, the root physical column the path reads. */
  private def jsonPathRoot(path: String): Option[String] =
    if (!path.startsWith("$.")) None
    else {
      val rest = path.replace(".[", "[").drop(2)
      val cut = rest.indexWhere(c => c == '.' || c == '[')
      Some(if (cut < 0) rest else rest.substring(0, cut))
    }

  /** A DataField path is ACL-admissible if the path itself or (for JSON
    * paths) its root physical column is in the allowed column set. */
  private[graft] def fieldPathAllowed(perm: SourcePermission, path: String): Boolean =
    perm.allowedColumns.contains(path) ||
      jsonPathRoot(path).exists(perm.allowedColumns.contains)

  /** Column-wise cast of `df` to the declared `schema` (R13 — the reference
    * casts every output stream to the requested return schema,
    * `core/src/execute/data_stores/file_directory.rs:111-139`). */
  def castToSchema(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
}
