package graft.perfbench

// Selective imports: `graft.model._` would shadow java.lang.System.
import graft.model.{EveScoutSignature, PlanetRef, Position, StargateDestination,
  StargateResponse, SystemJumps, SystemKills, SystemResponse}
import graft.sources.FixtureSource

import scala.collection.mutable
import scala.util.Random

/** A seeded, EVE-sized star map: 5,400 gated systems in 68 regions joined by
  * 6,900 gate pairs (13,800 directed edges), 3,100 J-space systems without
  * gates, and the two wormhole hubs `Turnur` (gated) and `Thera` (J-space).
  *
  * Each region is a random tree, the regions are joined by a random tree of
  * connectors plus extra connectors, and in-region chords fill up to the
  * pair count. Only the first [[WormholeJSpace]] J-space systems can appear
  * in a wormhole signature; the rest ("deep" J-space) are unreachable from
  * everywhere, so a route to one of them must answer 404.
  */
final class Universe private (
    val seed: Long,
    val gated: Array[Long],
    val jspace: Array[Long],
    val regionOf: Map[Long, Int],
    val gatePairs: Array[(Long, Long)],
    val turnur: Long,
    val thera: Long) {
  import Universe._

  val names: Map[Long, String] =
    (gated.map(id => id -> f"K-$id%d") ++ jspace.map(id => id -> f"J-$id%d")).toMap +
      (turnur -> "Turnur") + (thera -> "Thera")
  val idOf: Map[String, Long] = names.map(_.swap)
  val allIds: Array[Long] = gated ++ jspace
  def isGated(id: Long): Boolean = regionOf.contains(id)

  /** J-space systems a wormhole may reach (Thera excluded). */
  val wormholeJSpace: Array[Long] = jspace.slice(1, 1 + WormholeJSpace)
  /** J-space systems no edge ever touches. */
  val deepJSpace: Array[Long] = jspace.drop(1 + WormholeJSpace)

  /** Stargate ids: pair p yields gate 2p in its first system and 2p+1 in its
    * second, each pointing at the other. */
  val stargateResponses: Seq[StargateResponse] =
    gatePairs.toSeq.zipWithIndex.flatMap { case ((a, b), p) =>
      val ga = StargateBase + 2L * p
      val gb = ga + 1L
      Seq(
        StargateResponse(ga, s"Stargate (${names(b)})", a, 29624L,
          Position(p.toDouble, 0.0, 1.0), StargateDestination(gb, b)),
        StargateResponse(gb, s"Stargate (${names(a)})", b, 29624L,
          Position(p.toDouble, 1.0, 0.0), StargateDestination(ga, a)))
    }

  val systemResponses: Seq[SystemResponse] = {
    val gatesOf = stargateResponses.groupBy(_.system_id).map { case (s, gs) => s -> gs.map(_.stargate_id) }
    val rng = new Random(seed ^ 0x5157L)
    allIds.toSeq.map { id =>
      val region = regionOf.getOrElse(id, -1)
      val isGated = region >= 0
      SystemResponse(
        system_id = id,
        name = Some(names(id)),
        constellation_id = if (isGated) Some(20000000L + region) else None,
        security_status = if (isGated) rng.nextDouble() * 2.0 - 1.0 else -1.0,
        star_id = Some(40000000L + id % 1000000L),
        security_class = if (isGated) Some("B") else None,
        position = Position(rng.nextGaussian(), rng.nextGaussian(), rng.nextGaussian()),
        planets = Some(Seq(PlanetRef(40100000L + id % 1000000L))),
        stargates = gatesOf.get(id).map(_.sorted))
    }
  }

  /** A last-hour kills/jumps snapshot covering every system: kills are
    * heavy-tailed and mostly zero, jumps uniform (zero included). */
  def activity(rng: Random): (Seq[SystemKills], Seq[SystemJumps]) = {
    val ids = allIds.toSeq
    val kills = ids.map { id =>
      val k = if (rng.nextDouble() < 0.75) 0
        else math.min(500, math.exp(1.0 + 1.2 * rng.nextGaussian()).toInt)
      SystemKills(id, k)
    }
    val jumps = ids.map(id => SystemJumps(id, rng.nextInt(1000)))
    (kills, jumps)
  }

  /** An EVE-Scout snapshot: 20-60 wormholes from Thera or Turnur to gated
    * or reachable J-space systems (at least one per hub), plus 2-4
    * non-wormhole signatures into deep J-space that the P7 filter must drop. */
  def signatures(rng: Random): Seq[EveScoutSignature] = {
    val n = 20 + rng.nextInt(41)
    val whs = (0 until n).map { i =>
      val hub = if (i == 0) thera else if (i == 1) turnur else if (rng.nextBoolean()) thera else turnur
      var other = 0L
      while (other == 0L || other == hub) other =
        if (rng.nextDouble() < 0.6) gated(rng.nextInt(gated.length))
        else wormholeJSpace(rng.nextInt(wormholeJSpace.length))
      sig(s"wh-$i", "wormhole", hub, other)
    }
    val noise = (0 until 2 + rng.nextInt(3)).map { i =>
      val kind = Seq("combat", "data", "relic")(rng.nextInt(3))
      sig(s"x-$i", kind, if (rng.nextBoolean()) thera else turnur,
        deepJSpace(rng.nextInt(deepJSpace.length)))
    }
    rng.shuffle(whs ++ noise)
  }

  private def sig(id: String, kind: String, in: Long, out: Long): EveScoutSignature =
    EveScoutSignature(id, "2026-01-01T00:00:00Z", "2026-01-01T00:00:00Z", "",
      completed = true, wh_exits_outward = true, "K162", "large",
      "2026-01-02T00:00:00Z", 12L, kind, out, names(out), in,
      10000000L + regionOf.getOrElse(in, 99), "Region", None)

  def source(kills: Seq[SystemKills], jumps: Seq[SystemJumps],
      sigs: Seq[EveScoutSignature]): FixtureSource =
    new FixtureSource(systemResponses, stargateResponses, kills, jumps, sigs)
}

object Universe {
  val Regions = 68
  val GatedSystems = 5400
  val JSpaceSystems = 3100
  val GatePairCount = 6900
  val Connectors = 200
  val WormholeJSpace = 300
  val StargateBase = 50000000L

  def generate(seed: Long): Universe = {
    val rng = new Random(seed)
    val gated = Array.tabulate(GatedSystems)(i => 30000001L + i)
    val jspace = Array.tabulate(JSpaceSystems)(i => 31000001L + i)
    val base = GatedSystems / Regions
    val extra = GatedSystems % Regions
    val members = {
      var at = 0
      Array.tabulate(Regions) { r =>
        val size = base + (if (r < extra) 1 else 0)
        val m = gated.slice(at, at + size); at += size; m
      }
    }
    val regionOf = members.zipWithIndex.flatMap { case (m, r) => m.map(_ -> r) }.toMap
    // Turnur is the last member of region 0: a leaf of its region's tree and
    // never a connector, so dropping its gates on a wormhole refresh
    // disconnects no other system
    val turnur = members(0).last
    val pairs = mutable.LinkedHashSet.empty[(Long, Long)]
    def add(a: Long, b: Long): Boolean = a != b && pairs.add((a min b, a max b))
    // in-region random trees: member i hangs off a uniformly chosen earlier member
    members.foreach(m => (1 until m.length).foreach(i => add(m(i), m(rng.nextInt(i)))))
    // a random tree over the regions, then extra connectors
    def pick(r: Int): Long = {
      var s = turnur
      while (s == turnur) s = members(r)(rng.nextInt(members(r).length))
      s
    }
    (1 until Regions).foreach(r => add(pick(r), pick(rng.nextInt(r))))
    var connectors = Regions - 1
    while (connectors < Connectors) {
      val r1 = rng.nextInt(Regions); val r2 = rng.nextInt(Regions)
      if (r1 != r2 && add(pick(r1), pick(r2))) connectors += 1
    }
    // in-region chords up to the pair count
    while (pairs.size < GatePairCount) {
      val r = rng.nextInt(Regions)
      val m = members(r)
      add(m(rng.nextInt(m.length)), m(rng.nextInt(m.length)))
    }
    new Universe(seed, gated, jspace, regionOf, pairs.toArray, turnur, jspace(0))
  }
}
