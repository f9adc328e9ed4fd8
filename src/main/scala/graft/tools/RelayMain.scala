package graft.tools

import java.nio.file.Paths

import graft.GraftSession
import graft.catalog.ConfigLoader
import graft.mesh.{MeshRegistry, MeshSession, QueryService}
import graft.transport.RelayServer

/** Run one relay as a standalone process — the analogue of the reference's
  * `single_binary_deployment` (one binary = config + server + runners).
  *
  * Usage:
  *   runMain graft.tools.RelayMain --site NAME --config DIR
  *     [--port N] [--bind HOST] [--results DIR] [--secret TOKEN]
  *     [--master URL] [--register PATH[:VIEW]]... [--state-jdbc URL]
  *
  * The config DIR is a relayctl-format tree (Entity / LocalData /
  * LocalMapping / PeerRelay / RemoteMapping / User). PeerRelay
  * `rest_endpoint`s are contacted at startup and registered as
  * endpoint-backed stub sites (offline peers are skipped; the relay still
  * serves). The catalog is registry-backed, so `POST /admin/apply` mutates
  * it live. `--register` pre-registers a parquet/CSV/JSON path as a temp
  * view for `source_sql` to reference (the FileDirectory alternative for
  * quick starts).
  *
  * On a cluster, submit this main through spark-submit with the desired
  * master/executor config; everything else is identical — the relay's
  * Spark session IS the execution engine, so queries distribute across
  * the cluster while the HTTP surface stays on the driver.
  */
object RelayMain {
  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toList)
    val site = opts.getOrElse("site",
      sys.error("--site NAME is required"))
    val configDir = opts.getOrElse("config",
      sys.error("--config DIR is required"))
    val port = opts.get("port").map(_.toInt).getOrElse(8447)
    val bind = opts.getOrElse("bind", "127.0.0.1")
    val results = opts.getOrElse("results",
      java.nio.file.Files.createTempDirectory("graft_relay_results").toString)

    val spark = GraftSession(
      opts.getOrElse("master", GraftSession.defaultMaster), s"graft-relay-$site")

    // quick-start physical views: --register /data/x.parquet:raw_x
    opts.getOrElse("registers", "").split(" ").filter(_.nonEmpty).foreach { r =>
      val (path, view) = r.split(":", 2) match {
        case Array(p, v) => (p, v)
        case Array(p)    => (p, Paths.get(p).getFileName.toString
          .replaceAll("\\.(parquet|csv|json)$", ""))
      }
      val fmt =
        if (path.endsWith(".csv")) "csv"
        else if (path.endsWith(".json")) "json"
        else "parquet"
      spark.read.format(fmt)
        .option("header", "true").option("inferSchema", "true")
        .load(path).createOrReplaceTempView(view)
      System.err.println(s"[relay] registered $fmt $path as view $view")
    }

    // durable catalog: existing state IS the catalog (admin applies since
    // first boot survive restarts — the reference's Postgres-backed crud);
    // the config tree only seeds first boot. Every subsequent mutation
    // re-persists. Default backend is the JSON snapshot under the results
    // dir; --state-jdbc URL switches BOTH catalog and request state to a
    // shared SQL database (the reference's multi-relay Postgres shape —
    // every relay process over the same URL sees one store).
    val backend: graft.catalog.StateBackend = opts.get("state-jdbc") match {
      case Some(url) =>
        System.err.println(s"[relay] state backend: jdbc $url (owner $site)")
        new graft.catalog.JdbcStateBackend(url, owner = site)
      case None =>
        // tasks.json stays at its HISTORICAL <results>/tasks.json location
        // so deployments upgrading across the StateBackend refactor still
        // restore their request state
        new graft.catalog.FileStateBackend(Paths.get(results, "state"),
          tasksFile = Some(Paths.get(results, "tasks.json")))
    }
    val mesh = backend.restoreMesh() match {
      case Some(m) =>
        System.err.println("[relay] restoring catalog from state backend")
        m
      case None => ConfigLoader.loadMesh(
        Map(site -> Paths.get(configDir)), connectEndpointPeers = true)
    }
    val registry = new MeshRegistry(mesh)
    registry.attachPersistence(backend)
    val session = new MeshSession(spark, registry, site)
    val service = new QueryService(session, results, Some(backend))
    val server = new RelayServer(session, service,
      sharedSecret = opts.get("secret"), bindHost = bind, port = port,
      registry = Some(registry))
    System.err.println(
      s"[relay] $site serving ${server.url} " +
        s"(entities: ${registry.listEntities(site).map(_._1).mkString(", ")}; " +
        s"results: $results)")
    sys.addShutdownHook { server.stop(); spark.stop() }
    // serve until killed
    Thread.currentThread().join()
  }

  private def parseArgs(args: List[String]): Map[String, String] = {
    def loop(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case "--register" :: v :: t =>
          val prev = acc.getOrElse("registers", "")
          loop(t, acc + ("registers" ->
            (if (prev.isEmpty) v else s"$prev $v")))
        case k :: v :: t if k.startsWith("--") =>
          loop(t, acc + (k.stripPrefix("--") -> v))
        case Nil => acc
        case other => sys.error(s"unexpected arguments: ${other.mkString(" ")}")
      }
    loop(args, Map.empty)
  }
}
