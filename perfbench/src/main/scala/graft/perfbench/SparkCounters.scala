package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

/** Scheduler counters folded from a listener the benchmark owns.
  *
  * Totals are global: the benchmark drives one operation at a time, so the
  * difference between two drained readings is exactly the work of the
  * operation in between, whichever thread submitted its jobs (HttpApi's
  * handler thread included). Jobs are also folded per `spark.jobGroup.id`,
  * which the layer probes set on the benchmark thread around each call.
  *
  * The listener bus is asynchronous, so [[drain]] waits until the bus is
  * empty and every started job has ended before anything is read.
  */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  import SparkCounters._

  private val total = new Totals
  private val groups = TrieMap.empty[String, Totals]
  private val stageGroup = TrieMap.empty[Int, String]
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong

  sc.addSparkListener(this)

  private def groupTotals(g: String): Totals = groups.getOrElseUpdate(g, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    total.jobs.incrementAndGet()
    groupTotals(g).jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    total.stages.incrementAndGet()
    groupTotals(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val ts = Seq(total, groupTotals(stageGroup.getOrElse(e.stageId, "")))
    ts.foreach { t =>
      t.tasks.incrementAndGet()
      if (m != null) {
        t.executorRunMs.addAndGet(m.executorRunTime)
        t.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        t.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        t.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        t.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  /** Block until every posted event is processed and no job is running. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    var settled = false
    while (!settled) {
      org.apache.spark.BusDrain.waitUntilEmpty(sc)
      settled = jobsStarted.get() == jobsEnded.get()
      if (!settled) {
        if (System.nanoTime() > deadline) throw new IllegalStateException("Spark jobs did not finish")
        Thread.sleep(5)
      }
    }
  }

  /** Drained snapshot of the global totals. */
  def snapshot(): Counts = { drain(); total.counts }

  /** Drained per-job-group totals. */
  def byGroup(): Map[String, Counts] = { drain(); groups.map { case (g, t) => g -> t.counts }.toMap }

  def stop(): Unit = sc.removeSparkListener(this)
}

object SparkCounters {

  final case class Counts(jobs: Long, stages: Long, tasks: Long, executorRunMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      executorRunMs - o.executorRunMs, shuffleReadBytes - o.shuffleReadBytes,
      shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes, inputBytes - o.inputBytes)
  }

  private final class Totals {
    val jobs, stages, tasks, executorRunMs, shuffleReadBytes, shuffleWriteBytes,
      spillBytes, inputBytes = new AtomicLong
    def counts: Counts = Counts(jobs.get, stages.get, tasks.get, executorRunMs.get,
      shuffleReadBytes.get, shuffleWriteBytes.get, spillBytes.get, inputBytes.get)
  }
}
