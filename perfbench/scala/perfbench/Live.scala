package perfbench

import java.nio.file.{Files, Path}

import graft.engine.GraftEngine

/** Open-loop load for the resident sync task: file `i` is due at
  * `startMs + i / filesPerS` and is published (temp name, then rename) as
  * soon as it is due, however far the pipeline has fallen behind. One
  * thread; lateness is the publish time minus the due time. */
final class Generator(dir: Path, events: Array[Changes.Event], table: String,
    filesPerS: Double, val files: Int, val startMs: Long) extends Thread("perfbench-generator") {
  val due: Array[Long] = Array.tabulate(files)(i => startMs + math.round(i * 1000.0 / filesPerS))
  val published: Array[Long] = new Array[Long](files)
  setDaemon(true)

  override def run(): Unit = {
    var i = 0
    while (i < files) {
      val wait = due(i) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val per = Changes.EventsPerFile
      Changes.publish(dir, i, events, i * per, (i + 1) * per, table)
      published(i) = System.currentTimeMillis()
      i += 1
    }
  }
}

/** `cdc_live`: the resident sync task (`availableNow=false`, the fixed 2 s
  * trigger) from an empty target, masking `after.k` and encrypting
  * `after.value`, fed by the open-loop [[Generator]] replaying a hot-key
  * log (1,500 keys) at a fixed 400 events/s. Files due in the first
  * `SettleS` seconds settle the trigger rhythm; the timed interval
  * follows. A traced run also runs the [[Catchup]] and the [[Probe]]. */
object Live extends Workload {
  val Table = "events"
  val Users = 1500
  val LogEvents = 100000
  val FilesPerS = 4.0
  val SettleS = 4.0
  /** Files the warm-up pipeline takes in one batch. */
  val BurstFiles = 5
  val Security = Seq("after.k" -> "mask", "after.value" -> "encrypt")

  private var log: Array[Changes.Event] = Array.empty

  def prepare(ctx: Ctx): Unit = { log = Changes.hotKeyLog(ctx.seed, Users, LogEvents) }

  /** A throw-away resident pipeline that takes a burst of `BurstFiles`
    * files through its cold first batch (stream start, merge, PII
    * transforms), so the timed pipeline starts on a compiled path. */
  def warmup(ctx: Ctx): Exec = {
    val run = ctx.work.resolve("warmup")
    Changes.deleteTree(run)
    val engine = start(ctx, run)
    try {
      new Generator(run.resolve("source").resolve(Table), log, Table, 1000.0, BurstFiles,
        Workloads.now()).run()
      awaitCommitted(s"$run/checkpoint/$Table", BurstFiles)
    } finally engine.stop()
    Exec.none
  }

  /** The catch-up and the known-defect probe, run after the live
    * executions of a traced run: figures, checks and per-layer metrics. */
  override def extras(ctx: Ctx): Exec = {
    val run = ctx.work.resolve("catchup")
    Changes.deleteTree(run)
    Catchup.prepare(ctx)
    val c = Catchup.run(ctx, run)
    c.copy(layers = c.layers ++ Probe.run(ctx))
  }

  /** Block until the first `n` files are merged and committed. */
  private def awaitCommitted(ckpt: String, n: Int): Unit = {
    val deadline = Workloads.now() + 120000L
    def done = {
      val fb = Changes.batchOfFile(ckpt)
      val commits = Changes.commitTimes(ckpt)
      (0 until n).forall(i => fb.get(Changes.fileName(i)).exists(commits.contains))
    }
    while (!done) {
      require(Workloads.now() < deadline, "warm-up burst was not committed in time")
      Thread.sleep(50)
    }
  }

  private def start(ctx: Ctx, run: Path): GraftEngine = {
    val cfg = Workloads.writeConfig(run.resolve("config.json"), Workloads.syncConfig(
      run, run, Table, snapshot = false, Security, "key"))
    Files.createDirectories(run.resolve("source").resolve(Table))
    val engine = new GraftEngine(ctx.spark, cfg, availableNow = false)
    val rec = engine.pollOnce()
    require(rec.failed.isEmpty, s"pipeline start failed: ${rec.failed}")
    engine
  }

  def execute(ctx: Ctx, run: Path, tracer: Option[Tracer]): Exec = {
    val source = run.resolve("source").resolve(Table)
    val files = math.ceil((SettleS + ctx.seconds) * FilesPerS).toInt
    require(files * Changes.EventsPerFile <= log.length, "hot-key log too short for the run")
    val ckpt = s"$run/checkpoint/$Table"
    tracer.foreach(_.watchTarget(run.resolve("target").resolve(Table)))
    val (engine, _) = Workloads.timed(tracer, "poll_once")(start(ctx, run))
    val (gen, monitor) = try {
      val gen = new Generator(source, log, Table, FilesPerS, files, Workloads.now() + 200L)
      gen.start()
      gen.join()
      Workloads.timed(tracer, "drain")(engine.processAllAvailable())
      (gen, engine.monitorCounts())
    } finally engine.stop()
    val winStart = gen.startMs + (SettleS * 1000).toLong
    val winEnd = winStart + (ctx.seconds * 1000).toLong
    tracer.foreach { t =>
      t.mark("settle", gen.startMs, winStart)
      t.mark("timed", winStart, winEnd)
    }
    val fileBatch = Changes.batchOfFile(ckpt)
    val commits = Changes.commitTimes(ckpt)
    val batchOf = (0 until files).map(i => fileBatch.getOrElse(Changes.fileName(i), -1L))
    val latencies = (0 until files)
      .filter(i => gen.due(i) >= winStart && gen.due(i) < winEnd && commits.contains(batchOf(i)))
      .map(i => (commits(batchOf(i)) - gen.due(i)) / 1000.0)
    // applied rate over the batches committed inside the timed interval:
    // a batch takes the files published since the previous batch logged
    // its offsets, so the rows of every batch after the first, over the
    // time between the first and the last offset log, is the rate
    val filesPerBatch = batchOf.groupBy(identity).map { case (b, fs) => b -> fs.size }
    val offsets = Changes.offsetTimes(ckpt)
    val inWindow = commits.toSeq.filter { case (_, c) => c >= winStart && c <= winEnd }
      .map(_._1).sorted
    val (appliedRows, appliedS) =
      if (inWindow.size >= 2)
        (inWindow.tail.map(filesPerBatch.getOrElse(_, 0)).sum * Changes.EventsPerFile,
          (offsets(inWindow.last) - offsets(inWindow.head)) / 1000.0)
      else (latencies.size * Changes.EventsPerFile, ctx.seconds)
    val late = gen.published.indices.map(i => (gen.published(i) - gen.due(i)).toDouble)
    val dlq = Changes.dlqBatches(s"$run/dlq/$Table")
    val (src, tgt) = monitor.getOrElse(s"task1/$Table", (-1L, -2L))
    Workloads.writeTargetView(ctx.spark, s"$run/target/$Table", s"$run/view")
    val genLayers = Map(
      "gen.late_ms_p95" -> late.sorted.apply(math.min(late.size - 1, (late.size * 0.95).toInt)),
      "gen.late_ms_max" -> late.max, "gen.files" -> files.toDouble,
      "gen.events" -> (files * Changes.EventsPerFile).toDouble)
    val layers = tracer.map { t =>
      val changeBytes = (0 until files).map(i => Files.size(source.resolve(Changes.fileName(i)))).sum
      // files already published but not yet merged when each batch began
      val backlog = t.batches.map { b =>
        (0 until files).count(i => gen.published(i) <= b.start && batchOf(i) >= b.id).toDouble
      }
      t.streamLayers() ++ t.upsertLayers(changeBytes) ++ genLayers +
        ("stream.backlog_files" -> (if (backlog.isEmpty) 0.0 else backlog.max))
    }.getOrElse(Map.empty)
    val p50 = Stats.median(latencies)
    Exec(
      measures = Map("latencies_s" -> latencies, "applied_rows" -> appliedRows,
        "applied_s" -> appliedS, "files" -> files, "batches" -> commits.size,
        "gen_late_ms_max" -> late.max, "window_ms" -> Seq(winStart, winEnd)),
      attempted = math.max(commits.size, 1), failed = dlq,
      checks = Seq(
        ("live.monitor_counts_source_equals_target", src == tgt && src > 0, s"source=$src target=$tgt"),
        ("live.every_file_committed", batchOf.forall(commits.contains), s"$files files"),
        // a late generator charges its own delay to the pipeline: the run is void
        ("live.generator_on_time", late.max < 1000.0, s"max lateness ${late.max} ms")),
      verify = Seq(Map("kind" -> "lww", "name" -> "live", "view" -> s"$run/view", "snapshot" -> "",
        "source" -> source.toString, "masked" -> true)),
      headline = p50, layers = layers)
  }
}
