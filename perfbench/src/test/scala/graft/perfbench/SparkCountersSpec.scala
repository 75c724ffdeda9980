package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class SparkCountersSpec extends AnyFunSuite {

  private lazy val spark = BenchSpark.spark

  test("a drained reading already holds the job that just returned") {
    val c = new SparkCounters(spark.sparkContext)
    try {
      (1 to 50).foreach { i =>
        val before = c.snapshot()
        spark.range(0, 1000, 1, 3).count()
        val d = c.snapshot() - before
        assert(d.jobs >= 1 && d.tasks >= 3, s"iteration $i: $d")
      }
      spark.sparkContext.setJobGroup("probe", "probe")
      try spark.range(0, 100, 1, 2).count() finally spark.sparkContext.clearJobGroup()
      assert(c.byGroup()("probe").tasks >= 2)
    } finally c.stop()
  }

  test("the per-route job count repeats exactly for a seed") {
    val c = new SparkCounters(spark.sparkContext)
    try {
      val svc = new EveService(spark, Universe.generate(5L), Files.createTempDirectory("perfbench-jobs"), 5L)
      svc.bootstrap()
      try {
        val pairs = Seq.fill(8)(svc.nextPair())
        def jobs(): Seq[(Long, Long)] = pairs.map { case (k, f, t) =>
          val before = c.snapshot()
          val answer = svc.httpRoute(k, f, t)
          assert(svc.oracle.check(k, f, t, answer) === None)
          val d = c.snapshot() - before
          (d.jobs, d.tasks)
        }
        val first = jobs()
        assert(jobs() === first)
        assert(first.forall(_._1 > 0))
      } finally svc.stop()
    } finally c.stop()
  }
}
