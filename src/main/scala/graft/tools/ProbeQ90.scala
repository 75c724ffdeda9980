// Same-JVM interleaved A/B of q90's fixed-point PageRank BUILD (the
// 15-33 s cold lane, VERDICT r17 item 2): the OLD shape joins r⋈deg per
// iteration to form messages and restores missing vertices with a
// left join; the NEW shape attaches deg to the cached edge list once
// (e2 = edges ⋈ deg), so each iteration is ONE equi-join on the cached
// partitioning plus ONE hash aggregate — and drops the left-join
// restore outright (every vertex of this symmetrized graph has an
// in-edge, so the aggregate's key set is already the full vertex set).
// Messages are identical long arithmetic either way:
// (r*17) div (20*deg) per source, summed exactly.
//
// Results are asserted EQUAL (full collect compare) every run, and the
// arms alternate O,N,N,O so box drift cancels (the interleaved A/B
// pattern). Run: sbt 'runMain graft.tools.ProbeQ90 <sfDir> [rounds]'
package graft.tools

import graft.operators.GraphQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object ProbeQ90 {

  private def oldBuild(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = GraphQueries.partSupplierEdges(s, dir).select($"src", $"dst")
      .repartition($"src").cache()
    val deg = e.groupBy($"src".as("node")).agg(count(lit(1)).as("deg")).cache()
    val n = deg.count()
    val teleport = (3L * GraphQueries.PrScale) / (20L * n)
    var r = deg.select($"node", lit(GraphQueries.PrScale / n).as("r"))
    for (_ <- 1 to GraphQueries.PrIters) {
      val mv = r.join(deg, "node")
        .select($"node".as("src"), expr("(r * 17) div (20 * deg)").as("mv"))
      val sums = e.join(mv, "src").groupBy($"dst".as("node")).agg(sum($"mv").as("m"))
      r = deg.select($"node").join(sums, Seq("node"), "left")
        .select($"node", (coalesce($"m", lit(0L)) + teleport).as("r"))
    }
    val out = r.select($"node", $"r".as("rank_s15")).localCheckpoint()
    deg.unpersist(blocking = false); e.unpersist(blocking = false)
    out
  }

  private def newBuild(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = GraphQueries.partSupplierEdges(s, dir).select($"src", $"dst")
    val deg = e.groupBy($"src").agg(count(lit(1)).as("deg"))
    val e2 = e.join(deg, "src").repartition($"src").cache()
    val n = e2.select($"src").distinct().count()
    val teleport = (3L * GraphQueries.PrScale) / (20L * n)
    var r = e2.select($"src".as("node")).distinct()
      .select($"node", lit(GraphQueries.PrScale / n).as("r"))
    for (_ <- 1 to GraphQueries.PrIters) {
      r = e2.join(r.withColumnRenamed("node", "src"), "src")
        .select($"dst", expr("(r * 17) div (20 * deg)").as("mv"))
        .groupBy($"dst".as("node"))
        .agg((sum($"mv") + teleport).as("r"))
    }
    val out = r.select($"node", $"r".as("rank_s15")).localCheckpoint()
    e2.unpersist(blocking = false)
    out
  }

  /** Build each arm's 10-iteration chain WITHOUT the final checkpoint and
    * dump its formatted plan — the registered q90 explain only shows the
    * materialized-store scan, so the per-iteration exchange shape lives
    * here (plans/r18/q90_*). */
  private def explainChain(s: SparkSession, dir: String, neu: Boolean): Unit = {
    import s.implicits._
    val e = GraphQueries.partSupplierEdges(s, dir).select($"src", $"dst")
    if (neu) {
      val deg = e.groupBy($"src").agg(count(lit(1)).as("deg"))
      val e2 = e.join(deg, "src").repartition($"src").cache()
      var r = e2.select($"src".as("node")).distinct()
        .select($"node", lit(GraphQueries.PrScale / 21000L).as("r"))
      for (_ <- 1 to GraphQueries.PrIters) {
        r = e2.join(r.withColumnRenamed("node", "src"), "src")
          .select($"dst", expr("(r * 17) div (20 * deg)").as("mv"))
          .groupBy($"dst".as("node")).agg((sum($"mv") + 1L).as("r"))
      }
      r.select($"node", $"r".as("rank_s15")).explain("formatted")
      e2.unpersist(blocking = false)
    } else {
      val e1 = e.repartition($"src").cache()
      val deg = e1.groupBy($"src".as("node")).agg(count(lit(1)).as("deg")).cache()
      var r = deg.select($"node", lit(GraphQueries.PrScale / 21000L).as("r"))
      for (_ <- 1 to GraphQueries.PrIters) {
        val mv = r.join(deg, "node")
          .select($"node".as("src"), expr("(r * 17) div (20 * deg)").as("mv"))
        val sums = e1.join(mv, "src").groupBy($"dst".as("node")).agg(sum($"mv").as("m"))
        r = deg.select($"node").join(sums, Seq("node"), "left")
          .select($"node", (coalesce($"m", lit(0L)) + 1L).as("r"))
      }
      r.select($"node", $"r".as("rank_s15")).explain("formatted")
      deg.unpersist(blocking = false); e1.unpersist(blocking = false)
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    if (args.length > 1 && (args(1) == "explain-old" || args(1) == "explain-new")) {
      val spark = SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", 4)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      explainChain(spark, dir, args(1) == "explain-new")
      spark.stop()
      return
    }
    val rounds = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(name: String, f: (SparkSession, String) => DataFrame): (Double, Map[Long, Long]) = {
      graft.store.Materialized.invalidate(spark) // each arm pays the pairs build
      val t0 = System.nanoTime()
      val out = f(spark, dir)
      val rows = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[probeq90] $name $dt%.3f s (${rows.size} nodes)")
      (dt, rows)
    }

    val times = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    var ref: Map[Long, Long] = null
    (1 to rounds).foreach { _ =>
      Seq("old" -> oldBuild _, "new" -> newBuild _, "new" -> newBuild _,
        "old" -> oldBuild _).foreach { case (nm, f) =>
        val (dt, rows) = run(nm, f)
        if (ref == null) ref = rows
        require(rows == ref, s"$nm diverged from reference! (${rows.size} vs ${ref.size})")
        times(nm) = times(nm) :+ dt
      }
    }
    System.err.println(s"[probeq90] old runs: ${times("old").map(t => f"$t%.3f").mkString(", ")}")
    System.err.println(s"[probeq90] new runs: ${times("new").map(t => f"$t%.3f").mkString(", ")}")
    System.err.println(f"[probeq90] old min ${times("old").min}%.3f  new min ${times("new").min}%.3f  results EQUAL")
    spark.stop()
  }
}
