package graft.perfbench

import graft.model.{EveScoutSignature, SystemJumps, SystemKills}

import scala.collection.mutable

/** Independent model of what the route service must answer, kept next to
  * the program instead of inside it. It replays the service's documented
  * refresh semantics on plain collections:
  *
  *  - the cost graph is every current edge with weight 1; shortest distance
  *    is a breadth-first search;
  *  - the risk graph is a snapshot taken at each risk refresh: every edge
  *    present then, weighted by its destination's `kills²/jumps + baseline`
  *    (`kills² + baseline` when jumps = 0; baseline Σkills/Σjumps, 0.01 when
  *    Σjumps = 0); safest distance is Dijkstra over it;
  *  - a wormhole refresh first drops every edge touching Thera or Turnur
  *    (gates included), then adds each `wormhole` signature in both
  *    directions. It rebuilds the cost graph only.
  *
  * An answer is correct when it is 404 exactly where the oracle finds no
  * path, and otherwise a walk along existing edges from source to target
  * whose total weight equals the optimum.
  */
final class RouteOracle(ids: Seq[Long], names: Map[Long, String], gatePairs: Seq[(Long, Long)],
    hubs: Set[Long]) {
  import RouteOracle._

  private val index: Map[Long, Int] = ids.zipWithIndex.toMap
  private val idOf: Map[String, Long] = names.map(_.swap)
  private val n = index.size

  private var gateEdges: Seq[(Long, Long)] = gatePairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
  private var wormholeEdges: Seq[(Long, Long)] = Nil
  private var risk: Array[Double] = Array.fill(n)(0.0)

  private var costAdj: Array[Array[Int]] = adjacency(gateEdges)
  private var riskAdj: Array[Array[Int]] = adjacency(Nil)
  private var riskW: Array[Double] = risk

  private def edges: Seq[(Long, Long)] = gateEdges ++ wormholeEdges

  private def adjacency(es: Seq[(Long, Long)]): Array[Array[Int]] = {
    val out = Array.fill(n)(mutable.ArrayBuilder.make[Int])
    es.foreach { case (a, b) => out(index(a)) += index(b) }
    out.map(_.result())
  }

  /** E1 with the E2 baseline, per system index. */
  def applyActivity(kills: Seq[SystemKills], jumps: Seq[SystemJumps]): Unit = {
    val k = Array.fill(n)(0L); val j = Array.fill(n)(0L)
    kills.foreach(r => k(index(r.system_id)) = r.ship_kills.toLong)
    jumps.foreach(r => j(index(r.system_id)) = r.ship_jumps.toLong)
    val b = baseline(k.sum, j.sum)
    risk = Array.tabulate(n)(i => systemRisk(k(i), j(i), b))
  }

  /** POST /systems/risk: new activity, then the risk graph is re-snapshotted. */
  def riskRefresh(kills: Seq[SystemKills], jumps: Seq[SystemJumps]): Unit = {
    applyActivity(kills, jumps)
    riskAdj = adjacency(edges)
    riskW = risk
  }

  /** POST /wormholes/refresh: drop the hubs' edges, add the wormholes. */
  def wormholeRefresh(sigs: Seq[EveScoutSignature]): Unit = {
    gateEdges = gateEdges.filterNot { case (a, b) => hubs(a) || hubs(b) }
    wormholeEdges = sigs.filter(_.signature_type == "wormhole")
      .flatMap(s => Seq((s.in_system_id, s.out_system_id), (s.out_system_id, s.in_system_id)))
    costAdj = adjacency(edges)
  }

  /** The startup order of `EveGraph.bootstrap`: risks, then wormholes. */
  def bootstrap(kills: Seq[SystemKills], jumps: Seq[SystemJumps], sigs: Seq[EveScoutSignature]): Unit = {
    riskRefresh(kills, jumps)
    wormholeRefresh(sigs)
  }

  /** Fewest jumps from `src` to `dst`, by breadth-first search. */
  def shortest(src: Long, dst: Long): Option[Double] = {
    val dist = Array.fill(n)(-1)
    val q = mutable.Queue(index(src))
    dist(index(src)) = 0
    while (q.nonEmpty) {
      val v = q.dequeue()
      costAdj(v).foreach(w => if (dist(w) < 0) { dist(w) = dist(v) + 1; q.enqueue(w) })
    }
    val d = dist(index(dst))
    if (d < 0) None else Some(d.toDouble)
  }

  /** Least total risk from `src` to `dst`, by Dijkstra. */
  def safest(src: Long, dst: Long): Option[Double] = {
    val dist = Array.fill(n)(Double.PositiveInfinity)
    val done = Array.fill(n)(false)
    val pq = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by[(Double, Int), Double](_._1).reverse)
    dist(index(src)) = 0.0
    pq.enqueue((0.0, index(src)))
    while (pq.nonEmpty) {
      val (d, v) = pq.dequeue()
      if (!done(v)) {
        done(v) = true
        riskAdj(v).foreach { w =>
          val nd = d + riskW(w)
          if (nd < dist(w)) { dist(w) = nd; pq.enqueue((nd, w)) }
        }
      }
    }
    val d = dist(index(dst))
    if (d.isInfinite) None else Some(d)
  }

  /** None when `answer` (system names, or None for 404) is correct, else why not. */
  def check(kind: String, from: String, to: String, answer: Option[Seq[String]]): Option[String] = {
    val src = idOf(from); val dst = idOf(to)
    val safe = kind == "safest"
    val best = if (safe) safest(src, dst) else shortest(src, dst)
    (best, answer) match {
      case (None, None) => None
      case (None, Some(_)) => Some(s"$kind $from->$to: expected 404, got a route")
      case (Some(_), None) => Some(s"$kind $from->$to: expected a route, got 404")
      case (Some(opt), Some(path)) =>
        val ids = path.map(nm => idOf.getOrElse(nm, -1L))
        val adj = if (safe) riskAdj else costAdj
        val hops = ids.zip(ids.drop(1))
        if (ids.isEmpty || ids.head != src || ids.last != dst)
          Some(s"$kind $from->$to: path does not join the endpoints")
        else if (!hops.forall { case (a, b) => index.contains(a) && index.contains(b) && adj(index(a)).contains(index(b)) })
          Some(s"$kind $from->$to: path uses a missing edge")
        else {
          val total = hops.foldLeft(0.0) { case (acc, (_, b)) => acc + (if (safe) riskW(index(b)) else 1.0) }
          if (math.abs(total - opt) <= 1e-9 * math.max(1.0, math.abs(opt))) None
          else Some(f"$kind $from->$to: path weight $total%.6f, optimum $opt%.6f")
        }
    }
  }
}

object RouteOracle {

  def of(u: Universe): RouteOracle =
    new RouteOracle(u.allIds.toSeq, u.names, u.gatePairs.toSeq, Set(u.thera, u.turnur))

  /** E2: Σkills/Σjumps, or 0.01 when no jumps were recorded. */
  def baseline(totalKills: Long, totalJumps: Long): Double =
    if (totalJumps > 0L) totalKills.toDouble / totalJumps.toDouble else 0.01

  /** E1: kills²/jumps + baseline, or kills² + baseline when jumps = 0. */
  def systemRisk(kills: Long, jumps: Long, baseline: Double): Double = {
    val k = kills.toDouble
    (if (jumps > 0L) k * k / jumps.toDouble else k * k) + baseline
  }
}
