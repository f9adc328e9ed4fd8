package graft.mesh

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.ColumnBridge
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
  * with joins/aggs/sorts supplied by Spark (SURVEY §2.3). An endpoint-backed
  * peer's branch is a relay scan ([[graft.transport.RelayScan]]) that takes
  * the same pushdown into the SQL it sends the peer. Resolving makes no wire
  * call and the returned frame holds no rows: each query execution fetches
  * the peer's answer when its scan is planned, so a resolved frame can be
  * bound into any number of queries.
  */
object EntityResolver {
  val SourceRelayCol = "_source_relay_"
  val SourceIdCol    = "_source_id_"

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
    * `SELECT *`) is detected by analyzing the rendered template over an
    * empty frame of the remote schema, exactly mirroring `remoteMappedDF`'s per-column
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
    * so when local and remote names differ, the user text's relation
    * references are re-pointed at the remote name ([[repointRelations]]);
    * string literals and columns named like the entity are left alone.
    * Inside the (non-recursive) CTE body the self-name resolves to the
    * peer's real entity, standard SQL scoping. */
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
    val available = templateColumns(spark, rm, remoteSchema(mesh, rm, withProvenance = false))
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
      else repointRelations(spark, userSql, entity.name, rm.remoteEntity)
    val trimmed = pointed.trim
    if (trimmed.matches("(?is)^with\\b.*"))
      s"WITH ${rm.remoteEntity} AS ($hop), ${trimmed.substring(4).trim}"
    else s"WITH ${rm.remoteEntity} AS ($hop) $trimmed"
  }

  /** Re-point every relation reference to `from` in `sqlText` at `to`,
    * using the text spans the parser records for each relation: string
    * literals, columns, CTE names spelled like `from`, and references to
    * such a CTE keep their text (the peer's validator then refuses the
    * second name loudly instead of the hop silently skipping the CTE).
    * An unaliased reference becomes `to AS from`, so qualified columns
    * (`from.col`) still resolve. A text the session parser reads only
    * after the dialect bridges is re-pointed in its bridged form. */
  private def repointRelations(
      spark: SparkSession, sqlText: String, from: String, to: String): String = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
    val parser = spark.sessionState.sqlParser
    val (text, plan) =
      try (sqlText, parser.parsePlan(sqlText))
      catch {
        case _: org.apache.spark.sql.catalyst.parser.ParseException =>
          val bridged = graft.validation.SqlValidator.preprocess(sqlText)
          (bridged, parser.parsePlan(bridged))
      }
    // (start, stop, aliased) of each reference to `from`; a reference a
    // user CTE named like `from` shadows reads that CTE and keeps its text
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Boolean)]
    def walk(p: LogicalPlan, aliased: Boolean, shadowed: Boolean): Unit = p match {
      case r: UnresolvedRelation =>
        if (!shadowed && r.multipartIdentifier.size == 1 &&
            r.multipartIdentifier.head.equalsIgnoreCase(from))
          for (a <- r.origin.startIndex; b <- r.origin.stopIndex)
            spans += ((a, b, aliased))
      case w: UnresolvedWith =>
        val inBody = w.cteRelations.foldLeft(shadowed) { case (sh, (name, sub, _)) =>
          walk(sub.child, aliased = false, sh)
          sh || name.equalsIgnoreCase(from)
        }
        walk(w.child, aliased = false, inBody)
      case _ =>
        p.children.foreach(c => walk(c, p.isInstanceOf[SubqueryAlias], shadowed))
        p.expressions.foreach(_.foreach {
          case sq: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
            walk(sq.plan, aliased = false, shadowed)
          case _ =>
        })
    }
    walk(plan, aliased = false, shadowed = false)
    spans.distinct.sortBy(-_._1).foldLeft(text) { case (t, (a, b, aliased)) =>
      t.substring(0, a) + (if (aliased) to else s"$to AS $from") + t.substring(b + 1)
    }
  }

  /** What `rm`'s template emits over a remote entity of `remoteSchema`:
    * Catalyst analysis over an empty frame, no job runs. */
  private def templateSchema(spark: SparkSession, rm: RemoteEntityMapping,
      remoteSchema: StructType): StructType = {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], remoteSchema)
    ColumnBridge.bind(spark, rm.renderSql(rm.remoteEntity),
      Map(rm.remoteEntity -> empty)).schema
  }

  private def templateColumns(spark: SparkSession, rm: RemoteEntityMapping,
      remoteSchema: StructType): Set[String] =
    templateSchema(spark, rm, remoteSchema).fieldNames.toSet

  /** The remote entity's schema, plus the provenance columns when asked. */
  private def remoteSchema(mesh: Mesh, rm: RemoteEntityMapping,
      withProvenance: Boolean): StructType = {
    val schema = mesh.site(rm.peer).entities(rm.remoteEntity).schema
    if (!withProvenance) schema
    else StructType(schema.fields ++ Seq(
      StructField(SourceRelayCol, StringType), StructField(SourceIdCol, StringType)))
  }

  /** Plan-only check: which provenance columns does `rm.sqlTemplate` keep?
    * Analyzes the rendered template over the remote entity schema +
    * provenance columns ([[templateColumns]]). Returns (keeps
    * `_source_relay_`, keeps `_source_id_`). */
  private def templateProvenance(
      spark: SparkSession, mesh: Mesh, rm: RemoteEntityMapping): (Boolean, Boolean) = {
    val cols = templateColumns(spark, rm, remoteSchema(mesh, rm, withProvenance = true))
    (cols.contains(SourceRelayCol), cols.contains(SourceIdCol))
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
              // identity, user, and the visited set cross in headers. The
              // branch is a relay scan over what the template emits: no
              // wire call happens here. Each query execution fetches when
              // its scan is planned — the reference's get_flight_info +
              // do_get are likewise issued at scan planning — asking only
              // for the query's columns and exact filters. On the wire the
              // peer appends provenance itself when asked (sqlForPeer
              // resolves with withProvenance=true before applying the
              // template), so the scan's schema carries the provenance
              // columns the template keeps, and a payload missing a
              // required one fails loudly with the fetched schema rather
              // than degrading to NULL (which would silently flip result
              // hashes while keeping row counts and schema intact).
              val relay = graft.transport.RelayScan.frame(spark, graft.transport.RelayHop(
                rm.peer, url, rm.renderSql(rm.remoteEntity),
                templateSchema(spark, rm, remoteSchema(mesh, rm, withProvenance)), user,
                viaRelay = siteName, visited = visited + rm.peer, withProvenance))
              remoteInfoProjection(entity, rm, relay, withProvenance)
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

    // file-backed sources (FileDirectory runner, S1): read the physical
    // relation and bind it under the name the source SQL refers to. JSON
    // nested objects/arrays surface as their serialized TEXT: the
    // reference's DataField `$.`-path contract addresses a JSON document
    // stored in a column (`core/src/model/data_stores/mod.rs:55-62`), so
    // `get_json_object` must see a string — and the DSv2 connector's raw
    // view agrees.
    val fileView = ds.fileSource.map { fs =>
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
      ds.viewName.getOrElse(ds.id) -> flattened
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
        ColumnBridge.bind(spark, ds.sourceSql, fileView.toMap)
          .where(expr(perm.allowedRows))
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
    val templated = ColumnBridge.bind(spark, rm.renderSql(rm.remoteEntity),
      Map(rm.remoteEntity -> remoteDF))
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
