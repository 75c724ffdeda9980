package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

class MeasureSpec extends AnyFunSuite {

  test("quantiles and the tail-percentile rule") {
    val xs = (1 to 11).map(_.toDouble)
    assert(Stats.median(xs) === 6.0)
    assert(Stats.quantile(xs, 0.9) === 10.0)
    assert(Stats.quantile(Seq(1.0, 2.0), 0.5) === 1.5)
    assert(Stats.tailPercentile(19) === None)
    assert(Stats.tailPercentile(20) === Some(50))
    assert(Stats.tailPercentile(100) === Some(90))
    assert(Stats.tailPercentile(10000) === Some(99))
  }

  test("store footprint: disk, MANIFEST-current bytes and version count") {
    val root = Files.createTempDirectory("perfbench-store")
    def file(p: Path, bytes: Int): Unit = {
      Files.createDirectories(p.getParent)
      Files.write(p, Array.fill[Byte](bytes)(1))
    }
    file(root.resolve("systems/v1/part-0"), 100)
    file(root.resolve("systems/v2/part-0"), 300)
    Files.writeString(root.resolve("systems/MANIFEST"), "2")
    file(root.resolve("jumps_gate/v1/part-0"), 50)
    Files.writeString(root.resolve("jumps_gate/MANIFEST"), "1")
    val fp = StoreFootprint.of(root)
    assert(fp.versions === 3)
    assert(fp.liveBytes === 350)
    assert(fp.diskBytes === 450 + 2)
    assert(math.abs(fp.spaceAmp - 452.0 / 350) < 1e-12)
  }

  test("result JSON rendering") {
    assert(Json.obj(Seq("a" -> Json.num(1.5), "b" -> Json.str("x\"y"))) === """{"a":1.5,"b":"x\"y"}""")
    assert(Json.num(Double.NaN) === "null")
  }
}
