package graft.perfbench

import graft.api.EveGraph
import graft.fixtures.StarMap
import graft.store.EveStore
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class RouteOracleSpec extends AnyFunSuite {

  private lazy val spark = BenchSpark.spark

  test("risk goldens (FIXTURES.md A.4)") {
    assert(RouteOracle.systemRisk(0, 0, 0.1) === 0.1)
    assert(RouteOracle.systemRisk(5, 0, 0.1) === 25.1)
    assert(RouteOracle.systemRisk(0, 100, 0.1) === 0.1)
    assert(math.abs(RouteOracle.systemRisk(10, 200, 0.1) - 0.6) < 1e-12)
    assert(RouteOracle.baseline(10, 0) === 0.01)
    assert(RouteOracle.baseline(30, 300) === 0.1)
  }

  private def starMapOracle(): RouteOracle = {
    val o = new RouteOracle(StarMap.names.keys.toSeq.sorted, StarMap.names, StarMap.gatePairs,
      Set(StarMap.Thera, StarMap.Turnur))
    o.bootstrap(StarMap.killSnapshots, StarMap.jumpSnapshots, StarMap.wormholeSignatures)
    o
  }

  test("oracle optima on the StarMap (FIXTURES.md A.7)") {
    val o = starMapOracle()
    import StarMap._
    // Thera's wormholes make Jita -> Amarr two jumps
    assert(o.shortest(Jita, Amarr) === Some(2.0))
    // the risk projection predates the wormholes: safest takes the quiet Safe chain
    val b = RouteOracle.baseline(75, 1100)
    assert(o.safest(Jita, Amarr).get === Seq(SafeA, SafeB, SafeC, Amarr)
      .map(s => RouteOracle.systemRisk(killSnapshots.find(_.system_id == s).map(_.ship_kills.toLong).getOrElse(0L), 100, b)).sum)
    // the decoy signature does not open the island
    assert(o.shortest(Jita, Island1) === None)
    assert(o.shortest(Island1, Island2) === Some(1.0))
  }

  test("the oracle agrees with EveGraph on the StarMap routes") {
    val eng = new EveGraph(new EveStore(spark, Files.createTempDirectory("perfbench-oracle").toString))
    eng.bootstrap(StarMap.source(withWormholes = true))
    val o = starMapOracle()
    assert(o.check("shortest", "Jita", "Amarr", Some(Seq("Jita", "Thera", "Amarr"))) === None)
    assert(o.check("shortest", "Jita", "Amarr", Some(Seq("Jita", "Perimeter", "Urlen", "Amarr"))).nonEmpty)
    assert(o.check("shortest", "Jita", "Island1", Some(Seq("Jita", "Island1"))).nonEmpty)
    val names = StarMap.names.values.toSeq.sorted
    val pairs = names.filter(_ != "Jita").map(("Jita", _)) ++
      Seq(("Island1", "Island2"), ("Island2", "Amarr"), ("Amarr", "SafeB"), ("Thera", "Urlen"))
    for ((from, to) <- pairs; kind <- Seq("shortest", "safest")) {
      val answer = if (kind == "shortest") eng.shortestRoute(from, to) else eng.safestRoute(from, to)
      assert(o.check(kind, from, to, answer) === None, s"$kind $from -> $to answered $answer")
    }
    assert(eng.safestRoute("Jita", "Amarr") === Some(Seq("Jita", "SafeA", "SafeB", "SafeC", "Amarr")))
  }
}
