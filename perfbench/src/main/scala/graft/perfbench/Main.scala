package graft.perfbench

import java.nio.file.{Files, Path, Paths}

/** Benchmark entry point, normally started by `perfbench/run.py`:
  *
  * {{{
  * Main --workload <route_serve|refresh_mix> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --results <file>
  * }}}
  *
  * Prints a stamp line, then as its last stdout line the result:
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{name:{"value":…,"unit":…}}}`
  * with the end-to-end metrics when untraced and the per-layer metrics when
  * traced. The same, plus run detail, is written to `--results`.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    require(EveWorkloads.Names.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    val spark = Session.create(work)
    val r = try EveWorkloads.run(spark, work, workload, seed, seconds, trace, mainStart)
      finally spark.stop()

    val stamp = Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "trace" -> trace.toString,
      "seconds" -> seconds.toString,
      "cores" -> Session.cores.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "git_sha" -> Json.str(sys.props.getOrElse("perfbench.gitSha", "unknown")),
      "source_digest" -> Json.str(sys.props.getOrElse("perfbench.sourceDigest", "unknown")),
      "error_rate" -> Json.num(if (r.attempted == 0) 1.0 else r.failed.toDouble / r.attempted),
      "detail" -> Json.obj(r.detail.map { case (k, v) => k -> Json.num(v) }),
      "errors" -> r.errors.take(20).map(Json.str).mkString("[", ",", "]"))
    val result = Json.obj(Seq(
      "correct" -> (r.failed == 0 && r.attempted > 0).toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> Json.obj(r.metrics.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))))
    opts.get("results").foreach { p =>
      val path = Paths.get(p)
      Option(path.getParent).foreach(Files.createDirectories(_))
      val samples = Json.obj(r.samples.map { case (k, xs) => k -> xs.map(Json.num).mkString("[", ",", "]") })
      Files.writeString(path, Json.obj(Seq("stamp" -> Json.obj(stamp), "samples" -> samples,
        "result" -> result)) + "\n")
    }
    r.errors.take(5).foreach(e => System.err.println(s"[perfbench] wrong: $e"))
    println(Json.obj(Seq("perfbench" -> Json.obj(stamp))))
    println(result)
    System.out.flush()
    // nothing left to wait for: do not let a stray non-daemon thread hold the JVM
    sys.exit(0)
  }
}
