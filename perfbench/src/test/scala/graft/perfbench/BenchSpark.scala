package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Files

/** One session with the benchmark's own profile for the whole test run. */
object BenchSpark {
  lazy val spark: SparkSession = {
    val s = Session.create(Files.createTempDirectory("perfbench-test"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
