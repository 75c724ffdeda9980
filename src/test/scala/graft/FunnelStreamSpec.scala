package graft

import graft.streaming.FunnelStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

/** The maintained funnel table must equal the batch q82 result over the
  * union corpus under ANY batch split — including out-of-order arrival,
  * the case that invalidates previously derived per-user state (an
  * earlier view re-anchors the deadline; a better click re-opens the
  * purchase window) and that a fold-based or watermark design gets
  * wrong. Replaying a batch id must converge. */
class FunnelStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def events: DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir).select($"user_id", $"event_type", $"ts_us")
  }

  private def batchWant: Map[Long, (Long, Option[Long])] =
    SparkEntry.queries("q82_funnel_stages")(spark, dir).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap

  private def snapshotOf(storeDir: String): Map[Long, (Long, Option[Long])] =
    FunnelStream.snapshot(spark, storeDir).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap

  private def streamSliced(slices: Seq[DataFrame]): String = {
    val root = java.nio.file.Files.createTempDirectory("funnelstream").toString
    val (inDir, storeDir) = (s"$root/in", s"$root/store")
    new java.io.File(inDir).mkdirs()
    slices.zipWithIndex.foreach { case (sl, i) =>
      sl.coalesce(1).write.parquet(s"$root/slice_$i")
      val part = new java.io.File(s"$root/slice_$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$inDir/ev_$i.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/slice_$i"))
    }
    FunnelStream.start(spark, inDir, storeDir).awaitTermination()
    storeDir
  }

  test("streamed funnel ≡ batch q82, in-order and by-user splits") {
    import spark.implicits._
    val e = events.cache()
    val want = batchWant
    val mid = e.agg(expr("percentile_approx(ts_us, 0.5)")).head().getLong(0)
    val inOrder = streamSliced(Seq(e.filter($"ts_us" <= mid), e.filter($"ts_us" > mid)))
    val byUser = streamSliced(Seq(
      e.filter($"user_id" % 3 === 0), e.filter($"user_id" % 3 === 1),
      e.filter($"user_id" % 3 === 2)))
    assert(snapshotOf(inOrder) === want, "time-split stream diverged from batch q82")
    assert(snapshotOf(byUser) === want, "user-split stream diverged from batch q82")
  }

  test("out-of-order arrival: later slices re-anchor earlier state") {
    import spark.implicits._
    val e = events.cache()
    val want = batchWant
    val mid = e.agg(expr("percentile_approx(ts_us, 0.5)")).head().getLong(0)
    // LATEST events arrive first, earliest last: the final slice contains
    // every user's true first view, invalidating the anchor every touched
    // user derived in earlier batches
    val reversed = streamSliced(Seq(e.filter($"ts_us" > mid), e.filter($"ts_us" <= mid)))
    assert(snapshotOf(reversed) === want, "out-of-order stream diverged from batch q82")
    // non-vacuous: the reversed split must actually have re-anchored
    // someone, i.e. some user appears in both slices
    val both = e.filter($"ts_us" > mid).select($"user_id").distinct()
      .join(e.filter($"ts_us" <= mid).select($"user_id").distinct(), "user_id").count()
    assert(both > 0, "no user spans both slices — reversal exercised nothing")
  }

  test("compaction: snapshot preserved, directories collapse, ingest continues") {
    import spark.implicits._
    val e = events.cache()
    val want = batchWant
    val mid = e.agg(expr("percentile_approx(ts_us, 0.5)")).head().getLong(0)
    val store = streamSliced(Seq(e.filter($"ts_us" <= mid), e.filter($"ts_us" > mid)))
    FunnelStream.compact(spark, store, throughBatch = 1L)
    assert(snapshotOf(store) === want, "compaction changed the snapshot")
    def dirs(sub: String) = new java.io.File(s"$store/$sub").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(dirs("events") === Set("batch=-1"), s"events dirs: ${dirs("events")}")
    assert(dirs("funnel") === Set("batch=-1"), s"funnel dirs: ${dirs("funnel")}")
    // a resumed stream re-delivering an already-compacted id only touches
    // its own non-negative partition; recompute reads compacted history
    FunnelStream.processBatch(e.filter($"ts_us" <= mid), 0L, store)
    assert(snapshotOf(store) === want, "post-compaction redelivery broke the snapshot")
    // and the next compaction folds generation -1 with the new batch
    FunnelStream.compact(spark, store, throughBatch = 1L)
    assert(snapshotOf(store) === want, "re-compaction changed the snapshot")
    assert(dirs("events") === Set("batch=-2"), s"events dirs: ${dirs("events")}")
  }

  test("the recompute pays exactly ONE data exchange, keyed on user_id") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val e = events
    val root = java.nio.file.Files.createTempDirectory("fplanpin").toString
    val store = s"$root/store"
    FunnelStream.processBatch(e.filter($"user_id" % 2 === 0).withColumn("op", lit(1)), 0L, store)
    val touched = e.filter($"user_id" % 7 === 0)
      .select($"user_id").distinct().localCheckpoint()
    val frame = FunnelStream.recomputeRows(touched, 1L, store)
    frame.collect()
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeLike] = p match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case q: QueryStageExec => shuffles(q.plan)
      case s: ShuffleExchangeLike => s +: s.children.flatMap(shuffles)
      case other => other.children.flatMap(shuffles)
    }
    val sh = shuffles(frame.queryExecution.executedPlan)
    assert(sh.length === 1,
      s"recompute paid ${sh.length} data exchanges, want 1:\n${sh.map(_.outputPartitioning).mkString("\n")}")
    val part = sh.head.outputPartitioning.toString
    assert(part.contains("user_id") && !part.contains("ts_us") && !part.contains("event_type"),
      s"the one exchange must be keyed on user_id alone, got $part")
  }

  test("±op retraction ≡ batch q82 on survivors; tombstones, demotion, resurrection; compaction + replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val e = events.cache()
    val root = java.nio.file.Files.createTempDirectory("funnelretract").toString
    val store = s"$root/store"
    val gone = $"user_id" % 7 === 0
    val demoted = $"user_id" % 7 =!= 0 && $"user_id" % 5 === 3 && $"event_type" === "click"
    val revived = demoted && $"user_id" % 10 === 3
    def wantOf(surv: DataFrame): Map[Long, (Long, Option[Long])] =
      graft.operators.TemporalJoins.funnelStages(surv).collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    val b2 = e.filter(gone || demoted).withColumn("op", lit(-1))
    val b3 = e.filter(revived).withColumn("op", lit(1))
    assert(b2.filter(gone).count() > 0 && b2.filter(demoted).count() > 0 && b3.count() > 0,
      "fixture vacuous: a retraction class is empty")
    FunnelStream.processBatch(e.filter($"user_id" % 2 === 0).withColumn("op", lit(1)), 0L, store)
    FunnelStream.processBatch(e.filter($"user_id" % 2 === 1).withColumn("op", lit(1)), 1L, store)
    FunnelStream.processBatch(b2, 2L, store)
    val afterRetract = wantOf(e.filter(!(gone || demoted)))
    assert(snapshotOf(store) === afterRetract, "post-retraction snapshot diverged")
    // deleted users must have VANISHED (tombstone), not gone stale
    assert(e.filter(gone).select($"user_id").distinct().collect()
      .forall(r => !snapshotOf(store).contains(r.getLong(0))))
    FunnelStream.processBatch(b3, 3L, store)
    val want = wantOf(e.filter(!gone && (!demoted || revived)))
    assert(snapshotOf(store) === want, "post-resurrection snapshot diverged")
    // compact THROUGH the retraction batch; the re-insert stays live
    FunnelStream.compact(spark, store, throughBatch = 2L)
    assert(snapshotOf(store) === want, "compaction through the retraction diverged")
    // retraction-batch replay against the compacted store converges
    FunnelStream.processBatch(b2, 2L, store)
    assert(snapshotOf(store) === want, "retraction replay diverged")
    FunnelStream.compact(spark, store, throughBatch = 3L)
    assert(snapshotOf(store) === want, "full compaction diverged")
  }

  test("legacy (pre-±op) store migrates: compact normalizes, ±op continues") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val e = events.cache()
    val root = java.nio.file.Files.createTempDirectory("funnellegacy").toString
    val store = s"$root/store"
    // LEGACY layout: events carry neither op nor srcb (the pre-round-15
    // writer); the funnel side's shape is unchanged across rounds
    graft.streaming.Stores.writeBatch(
      e.select($"user_id", $"event_type", $"ts_us"),
      0L, s"$store/events", Seq(FunnelStream.UserBucket))
    graft.operators.TemporalJoins.funnelStages(e)
      .withColumn("batch", lit(0L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(s"$store/funnel")
    val want0 = batchWant
    assert(snapshotOf(store) === want0, "legacy snapshot must serve as-is")
    // the family's documented migration: fold ONCE before any ±op batch —
    // this must normalize the missing op/srcb, not throw on them
    FunnelStream.compact(spark, store, throughBatch = 0L)
    assert(snapshotOf(store) === want0, "migration fold changed the answer")
    // ±op continues on the migrated store; the legacy rows must count as
    // live history (op defaulted +1), not be silently dropped
    val gone = $"user_id" % 7 === 0
    assert(e.filter(gone).count() > 0, "fixture vacuous: no retractable user")
    FunnelStream.processBatch(e.filter(gone).withColumn("op", lit(-1)), 1L, store)
    val want1 = graft.operators.TemporalJoins.funnelStages(e.filter(!gone))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    assert(snapshotOf(store) === want1, "post-migration retraction diverged")
  }

  test("batch replay is idempotent: snapshot identical after redelivery") {
    import spark.implicits._
    val e = events.cache()
    val root = java.nio.file.Files.createTempDirectory("funnelreplay").toString
    val store = s"$root/store"
    val b0 = e.filter($"user_id" % 2 === 0)
    val b1 = e.filter($"user_id" % 2 === 1)
    FunnelStream.processBatch(b0, 0L, store)
    FunnelStream.processBatch(b1, 1L, store)
    val before = snapshotOf(store)
    assert(before === batchWant, "two-batch snapshot diverged from batch q82")
    FunnelStream.processBatch(b0, 0L, store) // redelivery
    assert(snapshotOf(store) === before, "replay changed the funnel table")
  }
}
