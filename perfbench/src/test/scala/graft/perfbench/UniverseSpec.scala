package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable
import scala.util.Random

class UniverseSpec extends AnyFunSuite {

  private val u = Universe.generate(7L)

  test("the same seed gives the same universe and snapshots; another seed does not") {
    val v = Universe.generate(7L)
    assert(v.gatePairs.toSeq === u.gatePairs.toSeq)
    assert(v.names === u.names)
    assert(v.systemResponses === u.systemResponses)
    assert(v.activity(new Random(3)) === u.activity(new Random(3)))
    assert(v.signatures(new Random(3)) === u.signatures(new Random(3)))
    assert(Universe.generate(8L).gatePairs.toSeq !== u.gatePairs.toSeq)
  }

  test("shape: 8,500 systems, 68 regions, 6,900 gate pairs, the two hubs") {
    assert(u.systemResponses.size === 8500)
    assert(u.gated.length === 5400)
    assert(u.jspace.length === 3100)
    assert(u.regionOf.values.toSet.size === 68)
    assert(u.gatePairs.length === 6900)
    assert(u.gatePairs.toSet.size === 6900)
    assert(u.gatePairs.forall { case (a, b) => a < b && u.isGated(a) && u.isGated(b) })
    assert(u.stargateResponses.size === 13800)
    assert(u.names.values.toSet.size === 8500)
    assert(u.names(u.turnur) === "Turnur" && u.isGated(u.turnur))
    assert(u.names(u.thera) === "Thera" && !u.isGated(u.thera))
  }

  test("stargates pair up and J-space systems have none") {
    val byId = u.stargateResponses.map(g => g.stargate_id -> g).toMap
    u.stargateResponses.foreach { g =>
      val back = byId(g.destination.stargate_id)
      assert(back.system_id === g.destination.system_id)
      assert(back.destination.system_id === g.system_id)
    }
    val jspace = u.jspace.toSet
    u.systemResponses.foreach { s =>
      assert(s.stargates.isEmpty === jspace(s.system_id))
    }
  }

  test("the gated map is connected, and stays connected without Turnur") {
    def reached(skip: Long): Int = {
      val adj = mutable.HashMap.empty[Long, List[Long]].withDefaultValue(Nil)
      u.gatePairs.foreach { case (a, b) =>
        if (a != skip && b != skip) { adj(a) = b :: adj(a); adj(b) = a :: adj(b) }
      }
      val start = u.gated.find(_ != skip).get
      val seen = mutable.HashSet(start)
      val q = mutable.Queue(start)
      while (q.nonEmpty) adj(q.dequeue()).foreach(w => if (seen.add(w)) q.enqueue(w))
      seen.size
    }
    assert(reached(-1L) === 5400)
    assert(reached(u.turnur) === 5399)
  }

  test("snapshots: heavy-tailed kills, 20-60 wormholes on both hubs, 2-4 decoys into deep J-space") {
    val rng = new Random(11)
    val (kills, jumps) = u.activity(rng)
    assert(kills.size === 8500 && jumps.size === 8500)
    assert(kills.count(_.ship_kills == 0) > 8500 / 2)
    assert(kills.map(_.ship_kills).max > 20)
    assert(jumps.forall(j => j.ship_jumps >= 0 && j.ship_jumps < 1000))
    (0 until 20).foreach { _ =>
      val sigs = u.signatures(rng)
      val (whs, decoys) = sigs.partition(_.signature_type == "wormhole")
      assert(whs.size >= 20 && whs.size <= 60)
      assert(decoys.size >= 2 && decoys.size <= 4)
      assert(whs.map(_.in_system_id).toSet === Set(u.thera, u.turnur))
      assert(whs.forall(s => s.out_system_id != s.in_system_id && !u.deepJSpace.contains(s.out_system_id)))
      assert(decoys.forall(s => u.deepJSpace.contains(s.out_system_id)))
    }
  }
}
