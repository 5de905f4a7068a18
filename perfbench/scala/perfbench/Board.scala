package perfbench

import java.nio.file.Path
import java.time.LocalDateTime

import graft.SparkEntry
import graft.engine.GraftEngine
import graft.model.{BackupSpec, BackupTableSpec}

/** `batch_board`: no streaming and no merge. Sync-pillar board rows and
  * the plan-bound iterative rows, each timed like `Bench.once` (a noop
  * write of the full plan, then the caller-managed cache release), and
  * `GraftEngine.runBackup` over date-suffixed slices (gzipped JSONL, then
  * a zip handed to a local artifact store), in whole passes. */
object Board extends Workload {
  val SyncRows = Seq("q5_source_target_diff", "q10_union_merged", "q11_masked_projection",
    "q13_daily_sync_stats", "q14_encrypt_roundtrip", "q15_conditional_count", "q16_export_window",
    "q17_nested_mask", "q31_cdc_state", "q48_cdc_tombstones", "q122_sqldump_restore")
  val IterRows = Seq("q246_components", "q281_entity_clusters", "q230_pagerank", "q231_triangles")
  val Rows: Seq[String] = SyncRows ++ IterRows
  /** Table scale of the generated inputs (sf=1: 1.5M orders). */
  val Sf = "0.002"
  /** A pass (every row, then the backups) takes about 10 s on 4 cores. */
  val NominalPassS = 10.0
  /** A backup takes about a second: three per pass give its median. */
  val BackupsPerPass = 3
  /** Backup anchor: the export window is 1997-01-01 .. 1998-12-31 (JST days). */
  val Anchor: LocalDateTime = LocalDateTime.of(1999, 1, 1, 0, 0)

  def backupSpec(ctx: Ctx, run: Path): BackupSpec = BackupSpec(id = 1, format = "json",
    tables = Seq(
      BackupTableSpec("orders_\\d{4}", Seq("all"), Some("o_orderdate"), -730, -1),
      BackupTableSpec("lineitem_\\d{4}", Seq("all"), Some("l_shipdate"), -730, -1)),
    compress = true, sourceDir = s"${ctx.inputs}/slices", outDir = s"$run/export",
    uploadDir = Some(s"$run/store"))

  def prepare(ctx: Ctx): Unit = {
    Changes.deleteTree(ctx.inputs)
    val p = new ProcessBuilder("python3", s"${ctx.benchDir}/datagen.py", ctx.inputs.toString, Sf,
      ctx.seed.toString).redirectErrorStream(true).redirectOutput(ProcessBuilder.Redirect.DISCARD).start()
    require(p.waitFor() == 0, "datagen.py failed")
  }

  /** Runs every row once (JIT, codegen and the per-query code paths),
    * writing its result for run.py's DuckDB oracle check. */
  def warmup(ctx: Ctx): Exec = {
    val out = ctx.work.resolve("board_out")
    val failed = Rows.count { q =>
      try {
        SparkEntry.queries(q)(ctx.spark, ctx.inputs.toString)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
        false
      } catch { case e: Exception => System.err.println(s"[perfbench] $q failed: $e"); true }
      finally graft.operators.PlanCache.release()
    }
    Json.write(s"$out/oracle_sql.json", SparkEntry.oracleSql.filter { case (q, _) => Rows.contains(q) })
    Exec(Map.empty, Rows.size, failed, Nil,
      Seq(Map("kind" -> "board", "tables" -> ctx.inputs.toString, "out" -> out.toString, "rows" -> Rows)),
      headline = 0.0)
  }

  /** One timed execution of a row: (seconds, start ms, end ms). */
  def once(ctx: Ctx, q: String): (Double, Long, Long) = {
    val s = Workloads.now()
    val t0 = System.nanoTime()
    try SparkEntry.queries(q)(ctx.spark, ctx.inputs.toString)
      .write.format("noop").mode("overwrite").save()
    finally graft.operators.PlanCache.release()
    ((System.nanoTime() - t0) / 1e9, s, Workloads.now())
  }

  def execute(ctx: Ctx, run: Path, tracer: Option[Tracer]): Exec = {
    val spec = backupSpec(ctx, run)
    val secs = scala.collection.mutable.Map.empty[String, Vector[(Double, Long, Long)]]
    val backups = scala.collection.mutable.ArrayBuffer.empty[(Double, Long, Long)]
    var failed = 0
    var attempted = 0
    val t0 = Workloads.now()
    def pass(): Unit = {
      Rows.foreach { q =>
        attempted += 1
        try {
          val r = tracer.fold(once(ctx, q))(_.phase(q)(once(ctx, q)))
          secs(q) = secs.getOrElse(q, Vector.empty) :+ r
        } catch { case e: Exception => failed += 1; System.err.println(s"[perfbench] $q failed: $e") }
      }
      (1 to BackupsPerPass).foreach { _ =>
        attempted += 1
        try {
          val s = Workloads.now()
          val (_, sec) = Workloads.timed(tracer, "backup")(GraftEngine.runBackup(ctx.spark, spec, Anchor))
          backups += ((sec, s, Workloads.now()))
        } catch { case e: Exception => failed += 1; System.err.println(s"[perfbench] backup failed: $e") }
      }
    }
    // whole passes, as many as the budget holds at the nominal pass time:
    // a count taken from measured pass times would flip between runs
    (1 to math.max(1, math.round(ctx.seconds / NominalPassS).toInt)).foreach(_ => pass())
    val t1 = Workloads.now()
    val layers = tracer.map { t =>
      val rowLayers = secs.toSeq.flatMap { case (q, xs) =>
        val exec = xs.map { case (_, s, e) => t.jobBusyMs(s, e).toDouble }
        val wall = xs.map { case (_, s, e) => (e - s).toDouble }
        Seq(s"board.$q.s" -> Stats.median(xs.map(_._1)),
          s"board.$q.exec_ms" -> Stats.median(exec),
          s"board.$q.plan_ms" -> Stats.median(wall.zip(exec).map { case (w, x) => w - x }))
      }
      val bk = backups.toSeq.map { case (sec, s, e) =>
        val writes = t.actionsIn(s, e).filter(_.writeFiles > 0)
        val lastWrite = if (writes.isEmpty) s else writes.map(_.end).max
        (sec * 1000, writes.map(a => (a.end - a.start).toDouble).sum, (e - lastWrite).toDouble,
          writes.map(_.writeRows).sum.toDouble, writes.map(_.writeBytes).sum.toDouble,
          writes.map(_.writeFiles).sum.toDouble)
      }
      rowLayers.toMap ++ Map(
        "backup.run_ms" -> Stats.median(bk.map(_._1)), "backup.write_ms" -> Stats.median(bk.map(_._2)),
        "backup.zip_ms" -> Stats.median(bk.map(_._3)), "backup.rows" -> Stats.median(bk.map(_._4)),
        "backup.bytes_written" -> Stats.median(bk.map(_._5)), "backup.files" -> Stats.median(bk.map(_._6)))
    }.getOrElse(Map.empty)
    val rowSecs = secs.map { case (q, xs) => q -> xs.map(_._1) }.toMap
    val syncS = SyncRows.map(q => Stats.median(rowSecs.getOrElse(q, Nil))).sum
    val iterS = IterRows.map(q => Stats.median(rowSecs.getOrElse(q, Nil))).sum
    Exec(
      measures = Map("row_s" -> rowSecs, "sync_rows" -> SyncRows, "iter_rows" -> IterRows,
        "backup_s" -> backups.map(_._1).toSeq, "window_ms" -> Seq(t0, t1)),
      attempted = attempted, failed = failed, checks = Nil,
      verify = Seq(Map("kind" -> "export", "tables" -> ctx.inputs.toString,
        "export" -> s"$run/export", "store" -> s"$run/store",
        "window" -> Seq("1997-01-01", "1998-12-31"))),
      headline = syncS + iterS, layers = layers)
  }
}
