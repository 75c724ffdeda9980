package graft.perfbench

import graft.graph.Dijkstra
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

final case class Metric(name: String, value: Double, unit: String)

/** What one run produced: answers checked, metrics, and detail that goes to
  * the result file but not into the contract line. */
final case class RunResult(attempted: Long, failed: Long, errors: Seq[String],
    metrics: Seq[Metric], detail: Seq[(String, Double)], samples: Seq[(String, Seq[Double])])

/** The two route-service workloads.
  *
  *  - `route_serve`: one client sends GET shortest/safest routes 50/50 in a
  *    closed loop; about 10% target deep J-space and must answer 404.
  *    Nothing is written.
  *  - `refresh_mix`: cycles of POST /systems/risk and three routes; every
  *    other cycle also sends POST /wormholes/refresh before its routes.
  *    Routes after a risk refresh must follow the new weights; routes after a
  *    wormhole refresh go to Thera and to a fresh wormhole's far end, so they
  *    must use the new wormholes.
  *
  * Untraced, both report the same end-to-end metrics. Traced, both run a
  * fixed number of operations with a drained counter reading around each
  * request, then the layer probes ([[LayerProbes]]).
  */
object EveWorkloads {

  val Names: Seq[String] = Seq("route_serve", "refresh_mix")

  /** Routes sent (and checked) before timing starts, for JIT warmup. */
  val WarmupRoutes = 6
  /** Routes in a traced `route_serve` run: fixed, so its counts repeat for a seed. */
  val TracedRoutes = 16
  /** `refresh_mix` runs one refresh cycle per this many seconds of the run:
    * a fixed amount of work, not a timed loop, because what a run leaves in
    * the store and in Spark's cache grows with every refresh. */
  val SecondsPerCycle = 5

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def run(spark: SparkSession, work: Path, workload: String, seed: Long, seconds: Int,
      trace: Boolean, mainStart: Long): RunResult = {
    val counters = if (trace) Some(new SparkCounters(spark.sparkContext)) else None
    val universe = Universe.generate(seed)
    val storeRoot = work.resolve("evestore")
    val svc = new EveService(spark, universe, storeRoot, seed)
    svc.bootstrap()
    val setupS = (System.nanoTime() - mainStart) / 1e9
    System.err.println(f"[perfbench] setup $setupS%.2f s")

    val errors = ArrayBuffer.empty[String]
    var attempted = 0L
    def record(err: Option[String]): Unit = { attempted += 1; err.foreach(errors += _) }
    def checked(kind: String, from: String, to: String, answer: Try[Option[Seq[String]]]): Unit =
      record(answer match {
        case Success(a) => svc.oracle.check(kind, from, to, a)
        case Failure(e) => Some(s"$kind $from->$to: ${e.getMessage}")
      })
    def post(path: String): Double = {
      val t0 = System.nanoTime()
      val r = Try(svc.httpPost(path))
      val took = ms(t0)
      record(r.failed.toOption.map(e => s"$path: ${e.getMessage}"))
      took
    }

    try {
      (0 until WarmupRoutes).foreach { _ =>
        val (k, f, t) = svc.nextPair()
        checked(k, f, t, Try(svc.httpRoute(k, f, t)))
      }
      // per-request drained counter deltas (traced runs only)
      val routeCounts = ArrayBuffer.empty[(Double, SparkCounters.Counts)]
      def timedRoute(k: String, f: String, t: String): Double = {
        val c0 = counters.map(_.snapshot())
        val t0 = System.nanoTime()
        val a = Try(svc.httpRoute(k, f, t))
        val took = ms(t0)
        counters.foreach(c => routeCounts += ((took, c.snapshot() - c0.get)))
        checked(k, f, t, a)
        took
      }

      val routeMs = ArrayBuffer.empty[Double]
      val requestMs = ArrayBuffer.empty[Double]
      val riskMs = ArrayBuffer.empty[Double]
      val wormholeMs = ArrayBuffer.empty[Double]
      var bytesPerCycle = Option.empty[Double]
      val windowStart = System.nanoTime()
      def elapsedS = (System.nanoTime() - windowStart) / 1e9

      workload match {
        case "route_serve" =>
          var n = 0
          while (if (trace) n < TracedRoutes else elapsedS < seconds) {
            val (k, f, t) = svc.nextPair()
            routeMs += timedRoute(k, f, t)
            n += 1
          }
          requestMs ++= routeMs

        case "refresh_mix" =>
          def route(k: String, f: String, t: String): Unit = routeMs += timedRoute(k, f, t)
          val cycles = math.max(1, seconds / SecondsPerCycle)
          val before = StoreFootprint.of(storeRoot).diskBytes
          (0 until cycles).foreach { i =>
            svc.stageActivity()
            riskMs += post("/systems/risk")
            if (i % 2 == 0) {
              // new risk weights: safest routes must follow them
              Seq("safest", "safest", "shortest").foreach { k => val (f, t) = svc.nextGatedPair(); route(k, f, t) }
            } else {
              // new wormholes: routes to Thera and to a fresh wormhole's far end need them
              svc.stageSignatures()
              wormholeMs += post("/wormholes/refresh")
              val from = universe.names(universe.gated(svc.rng.nextInt(universe.gated.length)))
              route("shortest", from, "Thera")
              route("shortest", from, svc.wormholeFarEnd())
              val (f, t) = svc.nextGatedPair(); route("safest", f, t)
            }
          }
          requestMs ++= routeMs ++ riskMs ++ wormholeMs
          bytesPerCycle = Some((StoreFootprint.of(storeRoot).diskBytes - before).toDouble / cycles)
      }

      val samples = Seq("route_ms" -> routeMs.toSeq, "risk_refresh_ms" -> riskMs.toSeq,
        "wormhole_refresh_ms" -> wormholeMs.toSeq)
      val detail = Seq(
        "setup_s" -> setupS,
        "window_s" -> elapsedS,
        "requests" -> requestMs.size.toDouble,
        "routes" -> routeMs.size.toDouble) ++
        Stats.tailPercentile(routeMs.size).map(p => s"route_p${p}_ms" -> Stats.quantile(routeMs.toSeq, p / 100.0)) ++
        (if (riskMs.nonEmpty) Seq("risk_refresh_p50_s" -> Stats.median(riskMs.toSeq) / 1e3) else Nil) ++
        (if (wormholeMs.nonEmpty) Seq("wormhole_refresh_p50_s" -> Stats.median(wormholeMs.toSeq) / 1e3) else Nil) ++
        bytesPerCycle.map("store_bytes_per_cycle" -> _)

      counters match {
        case None =>
          val metrics = Seq(
            Metric("setup_s", setupS, "s"),
            Metric("route_p50_ms", Stats.median(routeMs.toSeq), "ms"),
            Metric("requests_per_s", requestMs.size / (requestMs.sum / 1e3), "1/s"),
            Metric("cached_mb", cachedMb(spark), "MB"))
          RunResult(attempted, errors.size, errors.toSeq, metrics, detail, samples)
        case Some(c) =>
          val probes = new LayerProbes(spark, svc, c, record)
          val layer = probes.run()
          val execMs = routeCounts.map(_._2.executorRunMs.toDouble).sum
          val wallMs = routeCounts.map(_._1).sum
          val n = routeCounts.size.toDouble
          val metrics = Seq(
            Metric("trace.route_p50_ms", Stats.median(routeMs.toSeq), "ms"),
            Metric("spark.jobs_per_route", routeCounts.map(_._2.jobs).sum / n, "count"),
            Metric("spark.tasks_per_route", routeCounts.map(_._2.tasks).sum / n, "count"),
            Metric("spark.executor_ms_per_route", execMs / n, "ms"),
            Metric("spark.driver_share_route", 1.0 - execMs / wallMs, "ratio")) ++ layer
          val spans = c.byGroup().toSeq.filter(_._1.nonEmpty).sortBy(_._1).flatMap { case (g, k) =>
            Seq(s"span.$g.jobs" -> k.jobs.toDouble, s"span.$g.tasks" -> k.tasks.toDouble,
              s"span.$g.executor_ms" -> k.executorRunMs.toDouble)
          }
          RunResult(attempted, errors.size, errors.toSeq, metrics, detail ++ spans, samples)
      }
    } finally svc.stop()
  }

  /** Spark storage held at the end (memory plus disk), in MB. Graphs the
    * program dropped without unpersisting are released by Spark's
    * ContextCleaner only once the JVM collects them, so the reading follows a
    * full GC and waits for the cleaner to settle. */
  def cachedMb(spark: SparkSession): Double = {
    def held = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    var last = -1L
    var now = held
    var rounds = 0
    while (now != last && rounds < 20) {
      System.gc()
      Thread.sleep(100)
      last = now; now = held; rounds += 1
    }
    now / 1e6
  }
}

/** Per-layer probes: direct calls into each module's public functions on the
  * workload's own service state, each timed by the benchmark as a span whose
  * jobs carry the span name as their job group; the refresh calls are also
  * bracketed by drained counter readings. Routes first (checked against the
  * oracle), then the refresh and store-write probes, which leave the store
  * in a state the oracle does not track, so nothing is checked after them. */
final class LayerProbes(spark: SparkSession, svc: EveService, counters: SparkCounters,
    record: Option[String] => Unit) {
  import spark.implicits._

  private val u = svc.universe
  private val engine = svc.engine
  private val store = svc.store

  val RoutePairs = 4
  val LocalSsspReps = 10
  val RefreshReps = 2

  /** Time `f` as a span: its jobs carry the span name as their job group. */
  private def timeMs[T](span: String)(f: => T): (T, Double) = {
    spark.sparkContext.setJobGroup(span, span)
    try {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e6)
    } finally spark.sparkContext.clearJobGroup()
  }

  private def pinned[T](kind: String)(f: org.apache.spark.graphx.Graph[Long, Double] => T): T =
    engine.catalog.withGraph(if (kind == "shortest") "system-map" else "jump-risk",
      () => throw new IllegalStateException(s"$kind projection missing"))(f)

  def run(): Seq[Metric] = {
    val direct, http, autopath, lookup, local = ArrayBuffer.empty[Double]
    (0 until RoutePairs).foreach { i =>
      val kind = if (i % 2 == 0) "shortest" else "safest"
      val (from, to) = svc.nextGatedPair()
      def check(a: Try[Option[Seq[String]]]): Unit =
        record(a.fold(e => Some(e.toString), svc.oracle.check(kind, from, to, _)))
      val (a, d) = timeMs("api.route")(Try(svc.directRoute(kind, from, to)))
      check(a)
      direct += d
      val (b, h) = timeMs("api.http")(Try(svc.httpRoute(kind, from, to)))
      check(b)
      http += h - d
      val (_, l) = timeMs("store.name_lookup")(store.systems.filter(col("name") === from)
        .select(col("system_id")).limit(1).collect())
      lookup += l
      val src = u.idOf(from); val dst = u.idOf(to)
      val (res, ap) = timeMs("graph.autopath")(pinned(kind)(g => Dijkstra.autoPath(g, src, dst)))
      autopath += ap
      val expect = if (kind == "shortest") svc.oracle.shortest(src, dst) else svc.oracle.safest(src, dst)
      record((res.map(_._1), expect) match {
        case (Some(x), Some(y)) if math.abs(x - y) <= 1e-9 * math.max(1.0, y) => None
        case (None, None) => None
        case (got, want) => Some(s"autoPath $kind $from->$to: distance $got, expected $want")
      })
      val edges = pinned(kind)(_.edges.collect().map(e => (e.srcId, e.dstId, e.attr)).toSeq)
      (0 until LocalSsspReps).foreach(_ => local += timeMs("graph.local_sssp")(Dijkstra.localSssp(edges, src))._2)
    }
    val projectionEdges = pinned("shortest")(_.edges.count()).toDouble

    val riskS, whS, kjS, jrS, rbsS, buildS, incS, dropS, addS, bytes = ArrayBuffer.empty[Double]
    val riskJobs, riskTasks, whJobs = ArrayBuffer.empty[Double]
    (0 until RefreshReps).foreach { _ =>
      val before = StoreFootprint.of(svc.storeRoot).diskBytes
      svc.stageActivity()
      val c0 = counters.snapshot()
      riskS += timeMs("api.risk_refresh")(engine.refreshRisks(svc.staged))._2 / 1e3
      val c1 = counters.snapshot()
      svc.stageSignatures()
      whS += timeMs("api.wormhole_refresh")(engine.refreshWormholes(svc.staged))._2 / 1e3
      val c2 = counters.snapshot()
      bytes += (StoreFootprint.of(svc.storeRoot).diskBytes - before).toDouble
      riskJobs += (c1 - c0).jobs.toDouble; riskTasks += (c1 - c0).tasks.toDouble
      whJobs += (c2 - c1).jobs.toDouble

      // the same steps one layer down, in refreshRisks/refreshWormholes order
      val (k, j) = u.activity(svc.rng)
      kjS += timeMs("store.update_kills_jumps")(store.updateKillsJumps(k.toDS(), j.toDS()))._2 / 1e3
      jrS += timeMs("store.refresh_jump_risks")(store.refreshJumpRisks())._2 / 1e3
      rbsS += timeMs("risk.risk_by_system")(store.riskBySystem().collect())._2 / 1e3
      buildS += timeMs("graph.projection_build")(engine.refreshJumpRisk())._2 / 1e3
      incS += timeMs("graph.projection_incremental")(engine.refreshJumpRiskIncremental())._2 / 1e3
      dropS += timeMs("store.drop_connections") { store.dropConnectionsOf("Thera"); store.dropConnectionsOf("Turnur") }._2 / 1e3
      val pairs = svc.lastSignatures.filter(_.signature_type == "wormhole")
        .map(s => (s.in_system_id, s.out_system_id))
      addS += timeMs("store.add_wormholes")(store.addWormholes(pairs.toDS()))._2 / 1e3
    }
    val fp = StoreFootprint.of(svc.storeRoot)
    val m = Stats.median _
    Seq(
      Metric("api.route_ms", m(direct.toSeq), "ms"),
      Metric("api.http_ms", m(http.toSeq), "ms"),
      Metric("api.risk_refresh_s", m(riskS.toSeq), "s"),
      Metric("api.wormhole_refresh_s", m(whS.toSeq), "s"),
      Metric("graph.autopath_ms", m(autopath.toSeq), "ms"),
      Metric("graph.local_sssp_ms", m(local.toSeq), "ms"),
      Metric("graph.projection_edges", projectionEdges, "count"),
      Metric("graph.projection_build_s", m(buildS.toSeq), "s"),
      Metric("graph.projection_incremental_s", m(incS.toSeq), "s"),
      Metric("store.name_lookup_ms", m(lookup.toSeq), "ms"),
      Metric("store.update_kills_jumps_s", m(kjS.toSeq), "s"),
      Metric("store.refresh_jump_risks_s", m(jrS.toSeq), "s"),
      Metric("store.drop_connections_s", m(dropS.toSeq), "s"),
      Metric("store.add_wormholes_s", m(addS.toSeq), "s"),
      Metric("store.bytes_written_per_cycle", m(bytes.toSeq), "bytes"),
      Metric("store.space_amp", fp.spaceAmp, "ratio"),
      Metric("store.versions", fp.versions.toDouble, "count"),
      Metric("risk.risk_by_system_s", m(rbsS.toSeq), "s"),
      Metric("spark.jobs_per_risk_refresh", m(riskJobs.toSeq), "count"),
      Metric("spark.tasks_per_risk_refresh", m(riskTasks.toSeq), "count"),
      Metric("spark.jobs_per_wormhole_refresh", m(whJobs.toSeq), "count"))
  }
}
