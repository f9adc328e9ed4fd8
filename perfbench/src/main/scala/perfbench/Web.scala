package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.catalog.Mesh
import graft.mesh.{Fixtures, MeshRegistry, MeshSession, QueryService}
import graft.transport.{RelayClient, RelayServer}

/** The relay web relay-sync talks to: `Fixtures.mesh` in one JVM.
  * `global` is registry-backed, as a relay serving a live catalog is; `apac` runs its
  * own RelayServer on loopback and is registered in global's mesh as an
  * endpoint-backed stub from its `/catalog`, so every request crosses a
  * real socket to it. */
final class Web(spark: SparkSession, dataDir: String, resultsRoot: Path) {
  Fixtures.registerRaw(spark, dataDir)
  private val base: Mesh = Fixtures.mesh

  /** A site's relay result and spill directory (and its task-state
    * snapshot, `tasks.json`). */
  def resultsDir(site: String): Path = resultsRoot.resolve(site)

  private def results(site: String): String =
    Files.createDirectories(resultsDir(site)).toString

  val peer: RelayServer = {
    val s = new MeshSession(spark, base, "apac")
    new RelayServer(s, new QueryService(s, results("apac")))
  }
  val registry = new MeshRegistry(Mesh(base.sites + ("apac" -> RelayClient.catalogSite(peer.url))))
  val session = new MeshSession(spark, registry, "global")
  val server = new RelayServer(session, new QueryService(session, results("global")),
    registry = Some(registry))
  def url: String = server.url

  def stop(): Unit = {
    server.stop()
    peer.stop()
  }
}
