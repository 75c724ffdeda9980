package graft.perfbench

import graft.api.{EveGraph, HttpApi}
import graft.model.EveScoutSignature
import graft.sources.EveSource
import graft.store.EveStore
import org.apache.spark.sql.SparkSession

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Path
import java.time.Duration
import scala.util.Random

/** The route service under test, reached only through its public entry
  * points: an [[EveStore]] under the work directory, [[EveGraph.bootstrap]]
  * from a fixture source over the seeded [[Universe]], and [[HttpApi]] on
  * 127.0.0.1 with one client. The source supplier hands HttpApi whatever
  * snapshot the workload staged last; the [[RouteOracle]] replays the same
  * snapshots. */
final class EveService(spark: SparkSession, val universe: Universe, val storeRoot: Path, seed: Long) {

  val rng = new Random(seed ^ 0x5eedL)
  val oracle = RouteOracle.of(universe)
  val store = new EveStore(spark, storeRoot.toString)
  val engine = new EveGraph(store)

  @volatile private var current: EveSource = {
    val (k, j) = universe.activity(rng)
    val sigs = universe.signatures(rng)
    oracle.bootstrap(k, j, sigs)
    universe.source(k, j, sigs)
  }
  private var lastSigs: Seq[EveScoutSignature] = Nil

  /** The snapshot the next refresh reads. */
  def staged: EveSource = current
  def lastSignatures: Seq[EveScoutSignature] = lastSigs

  private val api = new HttpApi(engine, () => current)
  private var port = -1
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  def bootstrap(): Unit = {
    engine.bootstrap(current)
    port = api.start(0)
  }

  def stop(): Unit = api.stop()

  /** Stage a fresh kills/jumps snapshot for the next POST /systems/risk. */
  def stageActivity(): Unit = {
    val (k, j) = universe.activity(rng)
    oracle.riskRefresh(k, j)
    current = universe.source(k, j, lastSigs)
  }

  /** Stage a fresh Thera/Turnur signature set for the next POST /wormholes/refresh. */
  def stageSignatures(): Unit = {
    val sigs = universe.signatures(rng)
    oracle.wormholeRefresh(sigs)
    lastSigs = sigs
    current = universe.source(Nil, Nil, sigs)
  }

  /** The far end of a random wormhole in the last staged signature set. */
  def wormholeFarEnd(): String = {
    val whs = lastSigs.filter(_.signature_type == "wormhole")
    universe.names(whs(rng.nextInt(whs.length)).out_system_id)
  }

  /** A route request: 90% between two gated systems, 10% into deep J-space
    * (no gates, never a wormhole end), which must answer 404. */
  def nextPair(): (String, String, String) = {
    val kind = if (rng.nextBoolean()) "shortest" else "safest"
    val (from, to) =
      if (rng.nextDouble() < 0.1) {
        val g = universe.gated
        val deep = universe.deepJSpace
        (universe.names(g(rng.nextInt(g.length))), universe.names(deep(rng.nextInt(deep.length))))
      } else nextGatedPair()
    (kind, from, to)
  }

  /** Two distinct gated systems. */
  def nextGatedPair(): (String, String) = {
    val g = universe.gated
    val from = g(rng.nextInt(g.length))
    var to = from
    while (to == from) to = g(rng.nextInt(g.length))
    (universe.names(from), universe.names(to))
  }

  /** GET /{kind}-route/{from}/to/{to}: Some(names) on 200, None on 404;
    * anything else throws. */
  def httpRoute(kind: String, from: String, to: String): Option[Seq[String]] = {
    val resp = send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/$kind-route/$from/to/$to")).GET())
    resp.statusCode() match {
      case 200 => Some(EveService.parseNames(resp.body()))
      case 404 => None
      case c => throw new IllegalStateException(s"route answered $c: ${resp.body()}")
    }
  }

  /** POST a refresh endpoint; anything but 200 throws. */
  def httpPost(path: String): Unit = {
    val resp = send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.noBody()))
    if (resp.statusCode() != 200) throw new IllegalStateException(s"$path answered ${resp.statusCode()}: ${resp.body()}")
  }

  private def send(b: HttpRequest.Builder): HttpResponse[String] =
    client.send(b.timeout(Duration.ofSeconds(120)).build(), HttpResponse.BodyHandlers.ofString())

  /** Direct library call, bypassing HTTP. */
  def directRoute(kind: String, from: String, to: String): Option[Seq[String]] =
    if (kind == "shortest") engine.shortestRoute(from, to) else engine.safestRoute(from, to)
}

object EveService {
  /** The JSON array of system names HttpApi answers with (names are plain
    * ASCII without quotes or escapes). */
  def parseNames(body: String): Seq[String] = {
    val inner = body.trim.stripPrefix("[").stripSuffix("]").trim
    if (inner.isEmpty) Nil else inner.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
  }
}
