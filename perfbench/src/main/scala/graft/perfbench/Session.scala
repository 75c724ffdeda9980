package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Path

/** The benchmark's own session profile: every core of the box
  * (`local[nproc]`), shuffle partitions equal to cores, AQE on, UTC, nanosecond
  * parquet timestamps read as longs, no UI, and every scratch directory
  * inside the run's work directory. Log level and the heap are set by the
  * launcher (`run.py`). */
object Session {

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def create(work: Path): SparkSession = {
    val n = cores.toString
    SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.default.parallelism", n)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.checkpoint.dir", work.resolve("checkpoints").toString)
      .getOrCreate()
  }
}
