package graft.mesh

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.validation.SqlValidator

/** A relay's synchronous query entry point (Flight path, SURVEY §3.2):
  * validate -> resolve the single entity -> substitute it for the table
  * reference -> execute on Catalyst.
  *
  * Where the reference rewrites SQL text per source and ships it to backend
  * engines (`core/src/execute/map_local.rs:24-36`), this binds the entity's
  * name to the resolved entity DataFrame for the one query (an outer CTE,
  * `ColumnBridge.bind`; the session catalog is not touched), so the user's
  * SQL runs unchanged and Catalyst performs pushdown into every per-source
  * branch.
  */
class MeshSession private (
    val spark: SparkSession,
    meshProvider: () => graft.catalog.Mesh,
    val siteName: String) {

  // a relay serves one query shape with new literals per request: compile
  // each shape once, also in a session GraftSession did not build
  graft.plans.ParamLiteralStrategy.install(spark)

  /** Static catalog (a fixed Mesh value). */
  def this(spark: SparkSession, mesh: graft.catalog.Mesh, siteName: String) =
    this(spark, () => mesh, siteName)

  /** Live catalog: every query resolves against the registry's CURRENT
    * mesh, so admin upserts ([[MeshRegistry]]) are visible to the next
    * query without rebuilding the session — the reference's dynamic
    * registration semantics (`rest_server/src/admin/utils.rs:28-270`). */
  def this(spark: SparkSession, registry: MeshRegistry, siteName: String) =
    this(spark, () => registry.mesh, siteName)

  /** The catalog as of NOW (re-read per query for registry-backed sessions). */
  def mesh: graft.catalog.Mesh = meshProvider()

  /** Resolved entity frames, one per (entity, user, withProvenance,
    * viaRelay, visited) and valid for one Mesh VALUE (by reference: the
    * registry swaps in a new immutable Mesh on every admin upsert, so any
    * catalog mutation re-resolves on the next query). A resolved frame
    * holds no rows — local branches are plans over their sources, and an
    * endpoint peer's branch is a relay scan that fetches per execution —
    * so every query text for the same entity and requester binds over the
    * same frame and its analysis, and no query ever sees another's rows.
    * The entity is bound by name ([[bindEntity]]), never through the
    * session's temp-view catalog. Each call binds a FRESH Dataset: an
    * action re-run on one Dataset reuses its shuffle output, which would
    * serve a peer's old rows. Bounded: dropped wholesale at the cap
    * (frames are cheap to rebuild; an LRU would be ceremony). */
  private val resolved = scala.collection.concurrent.TrieMap
    .empty[(String, Option[String], Boolean, Option[String], Set[String]),
      (graft.catalog.Mesh, DataFrame)]
  private val ResolvedMax = 128

  /** Validate + execute `sqlText` as `user` against this site's catalog.
    *
    * @param returnSchema caller-declared result schema; the output is cast
    *   to it column-by-column, mirroring the reference's client-passed
    *   `return_schema` (`flight_server/src/flight.rs:565-567`).
    */
  def sql(sqlText: String, user: Option[String] = None,
      withProvenance: Boolean = false,
      returnSchema: Option[StructType] = None): DataFrame = {
    val (entity, entityDF) = resolveFor(sqlText, user, withProvenance)
    val out = bindEntity(sqlText, entity, entityDF)
    returnSchema.map(EntityResolver.castToSchema(out, _)).getOrElse(out)
  }

  /** The relay-to-relay entry point behind [[graft.transport.RelayServer]]'s
    * `/query/sync` (the Flight-path handler a peer hits,
    * `flight_server/src/flight.rs:501-630`): same validate → resolve →
    * substitute → execute pipeline as [[sql]], but the resolution carries
    * the forwarding relay's identity (Requester::Relay — relay ACLs
    * intersect user grants) and the request's visited-relay set (the wire
    * cycle guard). */
  private[graft] def sqlForPeer(sqlText: String, user: Option[String],
      viaRelay: Option[String], alsoVisited: Set[String],
      withProvenance: Boolean): DataFrame = {
    val (entity, entityDF) = resolveFor(sqlText, user, withProvenance,
      viaRelay, alsoVisited)
    bindEntity(sqlText, entity, entityDF)
  }

  /** Validate `sqlText` and resolve its one entity on this site: the
    * entity's name and its resolved, access-controlled frame, memoized
    * for `meshNow`. */
  private[graft] def resolveFor(sqlText: String, user: Option[String],
      withProvenance: Boolean, viaRelay: Option[String] = None,
      alsoVisited: Set[String] = Set.empty,
      meshNow: graft.catalog.Mesh = mesh): (String, DataFrame) = {
    val entity = SqlValidator.validate(sqlText, spark)
    if (!meshNow.site(siteName).entities.contains(entity))
      throw SqlValidator.InvalidQuery(s"Entity $entity not found on relay $siteName")
    val key = (entity, user, withProvenance, viaRelay, alsoVisited)
    val frame = resolved.get(key) match {
      case Some((m, df)) if m eq meshNow => df
      case _ =>
        val df = EntityResolver.resolve(spark, meshNow, siteName, entity, user,
          withProvenance, viaRelay, alsoVisited)
        if (resolved.size >= ResolvedMax) resolved.clear()
        resolved.put(key, (meshNow, df))
        df
    }
    entity -> frame
  }

  /** Analyze the user's text with the entity's name bound to `entityDF`
    * (the reference substitutes the mapped sources for the table
    * reference, `core/src/execute/map_local.rs:24-36`). */
  private[mesh] def bindEntity(sqlText: String, entity: String,
      entityDF: DataFrame): DataFrame =
    org.apache.spark.sql.graft.ColumnBridge.bind(
      spark, SqlValidator.preprocess(sqlText), Map(entity -> entityDF))

  /** [[sql]] with an x509-derived [[graft.catalog.Principal]]: the
    * principal's certificate fingerprint IS the permission key, exactly as
    * the reference joins `users.x509_sha256` to per-source grants
    * (`core/src/crud/user.rs:61-79`). Source ACLs address certificate
    * holders by listing their fingerprint in `userPermissions`. */
  def sqlAs(principal: graft.catalog.Principal, sqlText: String,
      withProvenance: Boolean = false,
      returnSchema: Option[StructType] = None): DataFrame =
    sql(sqlText, Some(principal.userKey), withProvenance, returnSchema)
}

/** Asynchronous query path (REST path, SURVEY §3.3): submitted queries are
  * tracked as tasks with Queued/InProgress/Complete/Failed statuses
  * (`core/src/model/query.rs:134-139`), results spill to
  * `<resultDir>/task_<id>/result.parquet`
  * (`core/src/execute/result_manager.rs:58-92`), and NDJSON export carries
  * `_relay_metadata_` provenance per record
  * (`rest_server/src/query/utils.rs:57-169`).
  */
class QueryService(session: MeshSession, resultDir: String,
    stateBackend: Option[graft.catalog.StateBackend] = None) {
  import QueryService._

  private val tasks = new java.util.concurrent.ConcurrentHashMap[String, TaskState]()
  private val branchTasks =
    new java.util.concurrent.ConcurrentHashMap[String, Map[(String, String), TaskState]]()

  // Request/task durability (the reference's Postgres rows,
  // `core/src/schema.rs:120-145`, at single-binary scope): submissions and
  // terminal transitions snapshot the maps to tasks.json beside the result
  // spill (atomic temp+rename), and a restarted service restores them —
  // completed requests keep their statuses and their results stay
  // readable. Requests caught NON-terminal by a restart RE-RUN from their
  // persisted submission spec (the reference's broker redelivery against
  // its request rows); snapshots predating spec capture surface as Failed
  // with an explicit reason instead. Branch spill from the first attempt
  // is overwritten idempotently on the re-run.
  // pluggable durability: JSON snapshot beside the spill by default, a
  // shared SQL database when the relay opts in (see StateBackend)
  private val backend: graft.catalog.StateBackend = stateBackend.getOrElse(
    new graft.catalog.FileStateBackend(java.nio.file.Paths.get(resultDir)))
  private val stateLock = new Object
  private val specs =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()

  // Terminal-request retention: a long-lived relay's history otherwise
  // grows without bound AND is re-serialized wholesale on every submit /
  // terminal transition (persistState rewrites the full snapshot). Past
  // the bound, the OLDEST terminal requests are evicted — status queries
  // for them answer "unknown" (the reference's result GC does the same to
  // its task rows) and their specs/branch states drop from the snapshot.
  // In-flight requests are never evicted.
  private val maxRetained: Int = sys.props.get("graft.tasks.maxRetained")
    .orElse(sys.env.get("GRAFT_TASKS_MAX_RETAINED")).map(_.toInt)
    .getOrElse(1000)
  private val terminalOrder = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Record `id` reaching a terminal state and evict past retention —
    * tracking AND the result spill (the reference's result-manager GC
    * removes the stored stream with the task row; keeping orphan spill
    * would grow disk without bound exactly like the snapshot). */
  private def noteTerminal(id: String): Unit = {
    terminalOrder.add(id)
    while (terminalOrder.size > maxRetained) {
      val old = terminalOrder.poll()
      if (old != null) {
        tasks.remove(old)
        branchTasks.remove(old)
        specs.remove(old)
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(new java.io.File(s"$resultDir/task_$old"))
      }
    }
  }

  /** This relay's own reachable ingest endpoint — set by
    * [[graft.transport.RelayServer]] on start. With it set, a submitted
    * query DISTRIBUTES: endpoint-backed peers receive the mapped request as
    * their own async task and push results straight back here (the
    * reference's broker-backed query_runner path); without it, remote
    * slices resolve through the local plan (pull over `/query/sync`).
    * Declared BEFORE the restore block below: requeued requests start on
    * the worker pool during construction and read this field — a later
    * initializer would leave them a null, not a None. */
  @volatile private[graft] var selfUrl: Option[String] = None

  locally {
    backend.restoreTasks().foreach { case (ts, bs, sp) =>
      sp.foreach { case (id, m) => specs.put(id, m) }
      val requeue = scala.collection.mutable.ArrayBuffer.empty[String]
      ts.foreach { case (id, (st, err)) =>
        val restored = parseStatus(st) match {
          case Complete => TaskState(Complete, err)
          case Failed   => TaskState(Failed, err)
          case _ if sp.contains(id) =>
            requeue += id
            TaskState(Queued, None)
          case _ => TaskState(Failed,
            Some("relay restarted while the request was in flight"))
        }
        tasks.put(id, restored)
      }
      bs.foreach { case (id, m) =>
        if (!requeue.contains(id))
          branchTasks.put(id, m.map { case (k, (st, err)) =>
            k -> TaskState(parseStatus(st), err)
          })
      }
      // restored terminal requests re-enter the retention queue so a
      // restarted long-lived relay still evicts its oldest history.
      // AFTER branch restore: eviction removes branchTasks entries too,
      // and enqueueing before bs.foreach would let the branch restore
      // resurrect rows eviction just dropped (orphans no queue entry
      // would ever remove). Restore order = the backend's map order
      // (first-persist order for the database backend).
      ts.foreach { case (id, _) =>
        val st = tasks.get(id)
        if (st != null && (st.status == Complete || st.status == Failed))
          noteTerminal(id)
      }
      // re-persist after restore: eviction above may have dropped rows
      // (and deleted their spill) that the store still carries — left
      // unpersisted, a second restart would resurrect them as Complete
      // with no readable results
      persistState()
      requeue.foreach { id =>
        val m = sp(id)
        val runnable = new Runnable {
          override def run(): Unit = runRequest(
            id,
            m("sql"),
            m.get("user"),
            m.get("return_schema").map(StructType.fromDDL),
            m.get("via_relay"),
            m.get("visited").map(_.split(",").toSet).getOrElse(Set.empty),
            for (u <- m.get("callback_url"); i <- m.get("callback_id"))
              yield (u, i))
        }
        pool.submit(runnable): Unit
      }
    }
  }

  private def persistState(): Unit = stateLock.synchronized {
    import scala.jdk.CollectionConverters._
    backend.persistTasks(
      tasks.asScala.toMap.map { case (id, t) =>
        id -> (t.status.toString, t.error)
      },
      branchTasks.asScala.toMap.map { case (id, m) =>
        id -> m.map { case (k, t) => k -> (t.status.toString, t.error) }
      },
      specs.asScala.toMap)
  }

  import QueryService.pool

  /** Submit a query; executes on a background thread, one sub-task per leaf
    * (relay, source) branch — mirroring the reference's per-DataSource
    * `QueryTask` rows with individual statuses
    * (`core/src/model/query.rs:79-167`). Returns the request id.
    *
    * Async federation (`rest_server/src/query/route.rs:245-261`,
    * `query_runner/src/lib.rs:117-221`): when a push target exists (this
    * relay runs a [[graft.transport.RelayServer]], or the request arrived
    * with a `callback`), each endpoint-backed peer becomes a REMOTE TASK —
    * the request is mapped into the peer's namespace
    * ([[EntityResolver.mapRemoteRequestSql]]) and re-POSTed async; the
    * peer's worker executes it per ITS branches and pushes every branch
    * result DIRECT to the originating relay's `do_put` ingest (skipping
    * intermediate hops — the callback propagates unchanged down the chain),
    * while this worker runs only the local branches and then awaits the
    * peers' terminal statuses.
    *
    * @param requestId caller-supplied request uuid; a replayed id returns
    *   the already-tracked request without executing again — the
    *   reference's DB-side request dedup (`core/src/crud/query.rs:21-60`,
    *   `flight_server/src/flight.rs:543-555`).
    * @param returnSchema caller-declared result schema, applied per branch
    *   before provenance tagging (`flight_server/src/flight.rs:565-567`).
    * @param viaRelay the peer relay that forwarded this request
    *   (Requester::Relay ACL evaluation), None for a direct user request.
    * @param visited relay names already on the request's mesh path (cycle
    *   guard, crosses in `X-Graft-Visited`).
    * @param callback (ingest endpoint, origin request id) when another
    *   relay originated this request: completed branches push there.
    */
  def submit(sqlText: String, user: Option[String] = None,
      requestId: Option[String] = None,
      returnSchema: Option[StructType] = None,
      viaRelay: Option[String] = None,
      visited: Set[String] = Set.empty,
      callback: Option[(String, String)] = None): String = {
    val id = requestId.getOrElse(java.util.UUID.randomUUID().toString)
    if (tasks.putIfAbsent(id, TaskState(Queued, None)) != null) return id
    // capture the submission payload BEFORE execution starts: it is what
    // a restarted service re-runs when this request is caught mid-flight
    specs.put(id, Map("sql" -> sqlText) ++
      user.map("user" -> _) ++
      returnSchema.map(s => "return_schema" -> s.toDDL) ++
      viaRelay.map("via_relay" -> _) ++
      (if (visited.nonEmpty) Map("visited" -> visited.mkString(","))
       else Map.empty) ++
      callback.map { case (u, i) =>
        Map("callback_url" -> u, "callback_id" -> i)
      }.getOrElse(Map.empty))
    persistState()
    val runnable = new Runnable {
      override def run(): Unit =
        runRequest(id, sqlText, user, returnSchema, viaRelay, visited, callback)
    }
    pool.submit(runnable)
    id
  }

  private def runRequest(id: String, sqlText: String, user: Option[String],
      returnSchema: Option[StructType], viaRelay: Option[String],
      visited: Set[String], callback: Option[(String, String)]): Unit = {
    tasks.put(id, TaskState(InProgress, None))
    try {
      val spark = session.spark
      // one catalog snapshot for the whole request — a registry-backed
      // session's mesh may change under concurrent admin applies, and the
      // fan-out decisions must agree with the mapped SQL they produce
      val mesh = session.mesh
      val entity = SqlValidator.validate(sqlText, spark)
      val site = mesh.site(session.siteName)
      if (!site.entities.contains(entity))
        throw SqlValidator.InvalidQuery(
          s"Entity $entity not found on relay ${session.siteName}")
      val visitedAll = visited + session.siteName
      // where completed branch results should land: the origin that asked
      // us (propagated unchanged — results skip intermediate hops,
      // `query_runner/src/lib.rs:117-182`), or our own ingest endpoint
      val pushTarget = callback.orElse(selfUrl.map(u => (u, id)))
      // endpoint-backed direct peers become remote tasks when pushes can
      // fly back; otherwise they stay in the local (pull-through) plan
      val wirePeers = site.remoteMappings.getOrElse(entity, Nil)
        .filterNot(rm => visitedAll.contains(rm.peer))
        .flatMap(rm =>
          mesh.sites.get(rm.peer).flatMap(_.endpoint).map(rm -> _))
        .filter(_ => pushTarget.nonEmpty)
      var anyFailed = false
      val remoteTasks = wirePeers.flatMap { case (rm, url) =>
        val (cbUrl, originId) = pushTarget.get
        // deterministic remote id: replayed origin requests re-POST the
        // same uuid and the peer's own dedup returns the tracked task
        val remoteId = java.util.UUID.nameUUIDFromBytes(
          s"$originId|${session.siteName}|${rm.peer}|${rm.remoteEntity}"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
        branchTasks.compute(id, (_, m) => Option(m).getOrElse(Map.empty) +
          ((rm.peer, "(remote)") -> TaskState(Queued, None)))
        try {
          val mappedSql = EntityResolver.mapRemoteRequestSql(
            spark, mesh, site.entities(entity), rm, sqlText)
          graft.transport.RelayClient.submit(url, mappedSql, user,
            Some(remoteId), viaRelay = Some(session.siteName),
            visited = visitedAll, callback = Some((cbUrl, originId)))
          Some((rm.peer, url, remoteId))
        } catch {
          case e: Throwable =>
            anyFailed = true
            branchTasks.compute(id, (_, m) =>
              m + ((rm.peer, "(remote)") -> TaskState(Failed, Some(e.getMessage))))
            None
        }
      }
      // local branches: the distributed peers are excluded from this plan
      val branches = perBranchFrames(sqlText, user, returnSchema, viaRelay,
        visited ++ wirePeers.map(_._1.peer))
      branchTasks.compute(id, (_, m) => Option(m).getOrElse(Map.empty) ++
        branches.map { case (b, _) => b -> TaskState(Queued, None) })
      branches.zipWithIndex.foreach { case ((branch, df), i) =>
        branchTasks.compute(id, (_, m) => m + (branch -> TaskState(InProgress, None)))
        try {
          // per-task spill under a collision-proof partition name, so
          // completed branches are readable even if a later one fails
          val spillDir = s"$resultDir/task_$id/result.parquet/" +
            s"${QueryService.BranchPartitionCol}=$i"
          df.write.mode("overwrite").parquet(spillDir)
          // executor-relay role: fly the spilled branch to the origin
          // (do_put). Empty spills (zero output partitions) carry no rows
          // to contribute and are skipped.
          callback.foreach { case (cbUrl, originId) =>
            if (hasPartFile(spillDir))
              graft.transport.RelayClient.pushResult(cbUrl, originId,
                s"${branch._1}-${branch._2}",
                session.spark.read.parquet(spillDir))
          }
          branchTasks.compute(id, (_, m) => m + (branch -> TaskState(Complete, None)))
        } catch {
          case e: Throwable =>
            anyFailed = true
            branchTasks.compute(id,
              (_, m) => m + (branch -> TaskState(Failed, Some(e.getMessage))))
        }
      }
      // await the remote fan-out: a peer is terminal only after its own
      // branches pushed and its downstream peers completed, so polling the
      // direct peers transitively covers the whole subweb. The wait runs
      // on the DEDICATED poller pool, not this worker thread — a blocked
      // origin worker would otherwise occupy a bounded-pool slot for the
      // whole remote round-trip, and enough concurrent federated submits
      // would starve the very executor tasks they are waiting on (any
      // process that is both origin and executor — nested webs, or the
      // single-JVM harness — deadlocks until timeout). Pollers sleep-poll
      // and cost nothing; workers stay available for real work.
      val localFailed = anyFailed
      if (remoteTasks.isEmpty) finalizeRequest(id, localFailed)
      else pollerPool.submit(new Runnable {
        override def run(): Unit = {
          var remoteFailed = localFailed
          remoteTasks.foreach { case (peer, url, remoteId) =>
            branchTasks.compute(id, (_, m) =>
              m + ((peer, "(remote)") -> TaskState(InProgress, None)))
            try {
              val st = graft.transport.RelayClient.await(url, remoteId)
              // import the peer's per-branch statuses into this request
              st.tasks.foreach { t =>
                branchTasks.compute(id, (_, m) =>
                  m + ((s"$peer/${t.relay}", t.source) ->
                    TaskState(parseStatus(t.status), t.error)))
              }
              if (st.status == "Complete")
                branchTasks.compute(id, (_, m) =>
                  m + ((peer, "(remote)") -> TaskState(Complete, None)))
              else {
                remoteFailed = true
                branchTasks.compute(id, (_, m) =>
                  m + ((peer, "(remote)") -> TaskState(Failed,
                    st.error.orElse(Some(s"peer $peer: ${st.status}")))))
              }
            } catch {
              case e: Throwable =>
                remoteFailed = true
                branchTasks.compute(id, (_, m) =>
                  m + ((peer, "(remote)") -> TaskState(Failed, Some(e.getMessage))))
            }
          }
          finalizeRequest(id, remoteFailed)
        }
      })
    } catch {
      case e: Throwable =>
        tasks.put(id, TaskState(Failed, Some(e.getMessage)))
        noteTerminal(id)
        persistState()
    }
  }

  private def finalizeRequest(id: String, anyFailed: Boolean): Unit = {
    tasks.put(id,
      if (anyFailed) TaskState(Failed, Some("one or more branch tasks failed"))
      else TaskState(Complete, None))
    noteTerminal(id)
    persistState()
  }

  private def parseStatus(s: String): Status = s match {
    case "Queued"     => Queued
    case "InProgress" => InProgress
    case "Complete"   => Complete
    case _            => Failed
  }

  private def hasPartFile(dir: String): Boolean = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).exists(_.exists(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")))
  }

  /** Per-branch task statuses, keyed by (relay, sourceId). Falls back to
    * the shared store for requests another relay owns. */
  def branchStatus(id: String): Map[(String, String), TaskState] =
    Option(branchTasks.get(id)).getOrElse(
      backend.lookupBranches(id).map { case (k, (st, err)) =>
        k -> TaskState(parseStatus(st), err)
      })

  /** Execute the full user query once per leaf (relay, source) branch and
    * union the per-branch results with provenance — the reference's async
    * semantics: every relay runs the query over its own slice and streams
    * partial results tagged with `_relay_metadata_` back to the origin
    * (`query_runner/src/lib.rs:117-182`, `rest_server/src/query/utils.rs`).
    * A LIMIT/aggregate therefore applies per source, exactly like the
    * reference's 53-rows-from-limit-10 query1 oracle. Catalyst constant-
    * folds the provenance filter, pruning all other branches from each
    * per-branch plan. */
  private def perBranchFrames(
      sqlText: String, user: Option[String],
      returnSchema: Option[StructType] = None,
      viaRelay: Option[String] = None,
      alsoVisited: Set[String] = Set.empty): Seq[((String, String), DataFrame)] = {
    import EntityResolver.{SourceIdCol, SourceRelayCol}
    val spark = session.spark
    val meshNow = session.mesh
    val (entity, full) = session.resolveFor(sqlText, user,
      withProvenance = true, viaRelay, alsoVisited, meshNow)
    // enumerate branches from the CATALOG (get_flight_info semantics,
    // `flight_server/src/flight.rs:194-309`) — no data scan runs before the
    // first branch task. Remote sql templates without SELECT * degrade
    // provenance columns to NULL independently; provenanceBranches detects
    // that statically (plan analysis over a schema-only probe) and degrades
    // each dropped column to (unattributed) per branch, so the null-safe
    // filters below still keep every row. Sources deny-all'd for this user
    // are omitted.
    val branches = EntityResolver
      .provenanceBranches(spark, meshNow, session.siteName, entity, user,
        viaRelay, alsoVisited)
      .sortBy { case (a, b) => (a.getOrElse(""), b.getOrElse("")) }
    branches.toSeq.map { case (relay, srcId) =>
      val branch = full
        .where(col(SourceRelayCol) <=> relay.map(lit(_)).getOrElse(lit(null)) &&
          col(SourceIdCol) <=> srcId.map(lit(_)).getOrElse(lit(null)))
        .drop(SourceRelayCol, SourceIdCol)
      val relayName = relay.getOrElse("(unattributed)")
      val srcName = srcId.getOrElse("(unattributed)")
      val base = session.bindEntity(sqlText, entity, branch)
      val cast = returnSchema
        .map(EntityResolver.castToSchema(base, _)).getOrElse(base)
      (relayName, srcName) -> cast
        .withColumn(SourceRelayCol, lit(relayName))
        .withColumn(SourceIdCol, lit(srcName))
    }
  }

  def status(id: String): TaskState =
    statusIfTracked(id)
      .getOrElse(TaskState(Failed, Some(s"unknown task $id")))

  /** [[status]] that distinguishes "unknown" — ONE backend lookup serves
    * both the tracked check and the state (a status poll against a
    * networked store should not pay isTracked + status + lookup three
    * separate round-trips). */
  def statusIfTracked(id: String): Option[TaskState] =
    Option(tasks.get(id))
      .orElse(backend.lookupTask(id).map { case (st, err) =>
        TaskState(parseStatus(st), err)
      })

  /** Whether `id` is tracked at all (vs [[status]], which reports unknown
    * ids as Failed for the reference's status-surface parity). Over a
    * shared-database backend this includes requests OTHER relays own —
    * any relay serves any request's status, like the reference's
    * all-relays-read-one-Postgres deployment. */
  def isTracked(id: String): Boolean =
    tasks.containsKey(id) || backend.lookupTask(id).isDefined

  /** S9 `do_put` ingest bookkeeping: a remote relay pushed branch `branch`'s
    * result stream for request `id` (the reference writes the parquet and a
    * FlightStream row per pushed stream, `flight_server/src/flight.rs:
    * 636-705`). The bytes land under the same per-branch spill layout as
    * locally-executed tasks, so [[results]] reads local and pushed branches
    * uniformly; the request is readable as soon as a stream lands
    * (stream-level completion — request-level completion stays with the
    * originator's own task bookkeeping). */
  private[graft] def noteIngested(id: String, branch: String): Unit = {
    branchTasks.compute(id, (_, m) =>
      Option(m).getOrElse(Map.empty) + ((branch, "do_put") -> TaskState(Complete, None)))
    // a pure-push request (no tracked submit) is readable as soon as a
    // stream lands; a tracked federated request keeps its own worker's
    // bookkeeping — an in-flight push must not stomp InProgress
    if (tasks.putIfAbsent(id, TaskState(Complete, None)) == null)
      noteTerminal(id)
    persistState()
  }

  /** The spill directory [[results]] reads for `id` — the ingest endpoint
    * writes pushed streams here. */
  private[graft] def taskResultDir(id: String): String =
    s"$resultDir/task_$id/result.parquet"

  /** Block until the task leaves Queued/InProgress (test convenience). */
  def await(id: String, timeoutMs: Long = 120000): TaskState = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var st = status(id)
    while ((st.status == Queued || st.status == InProgress)
        && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      st = status(id)
    }
    st
  }

  /** Read a task's spilled result (S7). Reference semantics
    * (`rest_server/src/query/route.rs:108-137`): unless `allowPartial`, a
    * request with failed/in-progress tasks raises instead of returning a
    * subset; with `allowPartial`, whatever branch results completed are
    * streamed. */
  def results(id: String, allowPartial: Boolean = false): DataFrame = {
    val st = status(id)
    if (!allowPartial && st.status != Complete)
      throw new IllegalStateException(
        s"query $id not complete: ${st.status}${st.error.map(e => s" ($e)").getOrElse("")}")
    val path = s"$resultDir/task_$id/result.parquet"
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path)))
      throw new IllegalStateException(
        s"no branch results available for query $id" +
          st.error.map(e => s" ($e)").getOrElse(""))
    session.spark.read
      .option("basePath", path)
      .parquet(path)
      .drop(QueryService.BranchPartitionCol)
  }

  /** NDJSON export with nested `_relay_metadata_` provenance (S8). The
    * reference drops all-NULL columns in JSON output
    * (`test/validation.py:17-19`) — `toJSON` reproduces that: null fields
    * are omitted per record. */
  def resultsNdjson(id: String): org.apache.spark.sql.Dataset[String] = {
    val df = results(id)
    val withMeta =
      if (df.columns.contains(EntityResolver.SourceRelayCol))
        df.withColumn("_relay_metadata_",
            struct(
              col(EntityResolver.SourceRelayCol).as("_source_relay_"),
              col(EntityResolver.SourceIdCol).as("_source_id_")))
          .drop(EntityResolver.SourceRelayCol, EntityResolver.SourceIdCol)
      else df
    withMeta.toJSON
  }
}

object QueryService {
  /** PROCESS-WIDE bounded worker pool shared by every QueryService: a
    * submit flood queues instead of exhausting driver threads (the
    * reference's query_runner drains a work queue the same way), and
    * constructing services per tenant/request doesn't accumulate idle
    * pools. Daemon threads; lives for the process like Spark's own
    * driver pools. */
  private[mesh] lazy val pool = java.util.concurrent.Executors.newFixedThreadPool(
    math.min(8, Runtime.getRuntime.availableProcessors()),
    (r: Runnable) => {
      val t = new Thread(r, "graft-query-worker")
      t.setDaemon(true)
      t
    })

  /** Unbounded cached pool for remote-status polling only: pollers spend
    * their lives in Thread.sleep, so they must never occupy a bounded
    * worker slot (see the federated-await note in `runRequest`). */
  private[mesh] lazy val pollerPool = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-remote-poller")
      t.setDaemon(true)
      t
    })
  /** Partition directory name for per-branch spill — prefixed so a user
    * query column named "branch" can't collide. */
  val BranchPartitionCol = "_graft_branch_"

  sealed trait Status
  case object Queued extends Status
  case object InProgress extends Status
  case object Complete extends Status
  case object Failed extends Status
  final case class TaskState(status: Status, error: Option[String])
}
