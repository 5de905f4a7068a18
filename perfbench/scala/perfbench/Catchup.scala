package perfbench

import java.nio.file.Path

import org.apache.spark.sql.functions._

import graft.engine.GraftEngine

/** The `--once` catch-up of one sync task through `GraftEngine`: a
  * 150k-row initial snapshot of an orders-shaped table, then a change log
  * of 100-event files drained at the engine's 1000-files-per-trigger cap
  * (two micro-batches), one cold `monitorCounts` and a repeat
  * `countReport`. Field security is off: see [[Probe]]. Traced `cdc_live`
  * runs report its figures as the `engine.*` layer. */
object Catchup {
  val Table = "orders"
  val SnapshotRows = 150000L
  val LogFiles = 1100 // one full trigger at the 1000-file cap, then a partial one

  def prepare(ctx: Ctx): Unit = {
    val dir = ctx.inputs.resolve("catchup")
    Changes.deleteTree(dir)
    Workloads.writeSnapshot(ctx.spark, ctx.seed, SnapshotRows, s"$dir/snapshot/$Table")
    Changes.writeAll(dir.resolve("source").resolve(Table),
      Changes.catchupLog(ctx.seed, SnapshotRows, LogFiles * Changes.EventsPerFile), Table)
  }

  def run(ctx: Ctx, run: Path): Exec = {
    val inputs = ctx.inputs.resolve("catchup")
    val cfg = Workloads.writeConfig(run.resolve("config.json"), Workloads.syncConfig(
      inputs, run, Table, snapshot = true, Nil, "value"))
    val engine = new GraftEngine(ctx.spark, cfg, availableNow = true)
    val sc = ctx.spark.sparkContext
    val group = "perfbench-count-report-warm"
    val (pollS, drainS, monitor, monitorS, warmS) = try {
      val (pollS, drainS) = Workloads.runOnce(engine)
      val (monitor, monitorS) = Workloads.clock(engine.monitorCounts())
      sc.setJobGroup(group, "repeat countReport", interruptOnCancel = false)
      val (_, warmS) = try Workloads.clock(engine.countReport()) finally sc.clearJobGroup()
      (pollS, drainS, monitor, monitorS, warmS)
    } finally engine.stop()
    val batches = Changes.commitTimes(s"$run/checkpoint/$Table").size
    val (src, tgt) = monitor.getOrElse(s"task1/$Table", (-1L, -2L))
    Workloads.writeTargetView(ctx.spark, s"$run/target/$Table", s"$run/view")
    val events = LogFiles * Changes.EventsPerFile
    Exec(
      measures = Map("snapshot_rows" -> SnapshotRows, "poll_once_s" -> pollS, "events" -> events,
        "drain_s" -> drainS, "monitor_s" -> monitorS),
      attempted = math.max(batches, 1), failed = Changes.dlqBatches(s"$run/dlq/$Table"),
      checks = Seq(("catchup.monitor_counts_source_equals_target", src == tgt && src > 0,
        s"source=$src target=$tgt")),
      verify = Seq(Map("kind" -> "lww", "name" -> "catchup", "view" -> s"$run/view",
        "snapshot" -> s"$inputs/snapshot/$Table", "source" -> s"$inputs/source/$Table",
        "masked" -> false)),
      headline = drainS,
      layers = Map(
        "engine.poll_once_ms" -> pollS * 1000, "engine.drain_ms" -> drainS * 1000,
        "engine.monitor_counts_ms" -> monitorS * 1000, "engine.count_report_warm_ms" -> warmS * 1000,
        "engine.count_report_warm_jobs" -> sc.statusTracker.getJobIdsForGroup(group).length.toDouble))
  }
}

/** The known-defect probe, reported as measured: one small untimed sync
  * task with `securityEnabled`, a `snapshotDir` and a mask rule on
  * `after.k`. Counts snapshot rows that reached the target unmasked and
  * micro-batches parked in the dead-letter queue. */
object Probe {
  def run(ctx: Ctx): Map[String, Double] = {
    val dir = ctx.work.resolve("probe")
    Changes.deleteTree(dir)
    val table = Catchup.Table
    Workloads.writeSnapshot(ctx.spark, ctx.seed + 2, 1000L, s"$dir/inputs/snapshot/$table")
    Changes.writeAll(dir.resolve("inputs/source").resolve(table),
      Changes.catchupLog(ctx.seed + 2, 1000L, 300), table)
    val cfg = Workloads.writeConfig(dir.resolve("config.json"), Workloads.syncConfig(
      dir.resolve("inputs"), dir.resolve("run"), table, snapshot = true, Seq("after.k" -> "mask"), "key"))
    val engine = new GraftEngine(ctx.spark, cfg, availableNow = true)
    try Workloads.runOnce(engine) finally engine.stop()
    val target = graft.operators.Upsert.readTarget(ctx.spark, s"$dir/run/target/$table")
    val unmasked = target
      .filter(col("updated_at").isNull && col("k").isNotNull && col("k").cast("string") =!= "****")
      .count()
    Map("probe.unmasked_snapshot_rows" -> unmasked.toDouble,
      "probe.dlq_batches" -> Changes.dlqBatches(s"$dir/run/dlq/$table").toDouble)
  }
}
