package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's recorder: a SparkListener and a StreamingQueryListener
  * record, in memory, every streaming micro-batch, SQL action (with its
  * Catalyst phase times) and Spark job; the harness adds
  * workload phases. [[spans]] nests them workload -> phase -> streaming
  * batch -> SQL action -> Spark job (by time containment, and by the
  * execution id a job carries). Untraced runs never construct one. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val batches = mutable.ArrayBuffer.empty[Batch]
  val actions = mutable.LinkedHashMap.empty[Long, Action]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val phases = mutable.ArrayBuffer.empty[Phase]
  private val stageJob = mutable.Map.empty[Int, Int]

  private def action(id: Long): Action =
    actions.getOrElseUpdate(id, Action(id, 0L, 0L, "", 0L, 0L, 0L, 0))

  /** Catalyst phase times, analyzed-plan size and file-write statistics
    * of one SQL execution. */
  private def recordPlan(a: Action, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    a.analysisMs = ms("analysis"); a.optimizationMs = ms("optimization"); a.planningMs = ms("planning")
    a.nodes = qe.analyzed.collect { case n => n }.size
    // file writes (the export): the write command's own statistics. A
    // write inside a micro-batch runs within the batch's execution and
    // posts no events of its own: see [[watchTarget]]
    def writes(p: org.apache.spark.sql.execution.SparkPlan): Seq[Map[String, Long]] = p match {
      case w: org.apache.spark.sql.execution.command.DataWritingCommandExec =>
        Seq(w.cmd.metrics.map { case (k, m) => k -> m.value })
      case ad: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => writes(ad.executedPlan)
      case other => other.children.flatMap(writes)
    }
    writes(qe.executedPlan).foreach { m =>
      a.writeFiles += m.getOrElse("numFiles", 0L)
      a.writeBytes += m.getOrElse("numOutputBytes", 0L)
      a.writeRows += m.getOrElse("numOutputRows", 0L)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      jobs(e.jobId) = Job(e.jobId, e.time, e.time, exec, e.stageIds)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get) if m != null) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          val a = action(s.executionId); a.start = s.time
          if (a.name.isEmpty) a.name = s.description.take(80)
        case s: SparkListenerSQLExecutionEnd =>
          val a = action(s.executionId)
          a.end = s.time
          org.apache.spark.sql.PerfbenchHooks.queryExecution(s).foreach(recordPlan(a, _))
        case _ => ()
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs.entrySet.toArray.map(_.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]])
          .map(x => x.getKey -> x.getValue.longValue).toMap
        if (p.numInputRows > 0) {
          val b = Batch(p.name, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
            d, p.numInputRows)
          batches += b.copy(written = target.map(filesWritten(_, b.start, b.end)).getOrElse(Nil))
        }
      }
  }

  @volatile private var target: Option[java.nio.file.Path] = None

  /** Attribute the files of a bucketed merge target to the micro-batches
    * that wrote them: listed as each batch's progress arrives, before a
    * later batch can overwrite them. */
  def watchTarget(dir: java.nio.file.Path): Unit = target = Some(dir)

  /** (bucket, bytes) of every data file under `dir` last modified within
    * [t0, t1]. */
  private def filesWritten(dir: java.nio.file.Path, t0: Long, t1: Long): Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.isDirectory(dir)) return Nil
    val walk = java.nio.file.Files.walk(dir)
    try walk.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
      .filterNot { f => val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
      .map(f => (f, java.nio.file.Files.getLastModifiedTime(f).toMillis))
      .filter { case (_, m) => m >= t0 && m <= t1 }
      .map { case (f, _) => (f.getParent.getFileName.toString, java.nio.file.Files.size(f)) }
      .toSeq
    finally walk.close()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for every queued listener event, then detach. */
  def stop(): Unit = {
    org.apache.spark.sql.PerfbenchHooks.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def phase[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body finally mark(name, t0, System.currentTimeMillis())
  }

  /** Record a phase whose bounds were taken elsewhere. */
  def mark(name: String, start: Long, end: Long): Unit = synchronized {
    phases += Phase(name, start, end)
  }

  // --- readouts over a time window -----------------------------------

  def jobsIn(t0: Long, t1: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.start >= t0 && j.start <= t1).toSeq
  }

  def actionsIn(t0: Long, t1: Long): Seq[Action] = synchronized {
    actions.values.filter(a => a.start >= t0 && a.start <= t1 && a.end >= a.start).toSeq
  }

  /** Milliseconds of [t0, t1] during which at least one Spark job ran. */
  def jobBusyMs(t0: Long, t1: Long): Long = unionMs(jobsIn(t0, t1).map(j => (j.start, j.end)), t0, t1)

  /** The span tree: workload -> phase -> batch -> SQL action -> job. A
    * span's parent is the innermost span of the level above that contains
    * it (a job's is the SQL action whose execution id it carries);
    * `self_ms` is its duration less the time its children cover. */
  def spans(workload: String, t0: Long, t1: Long): Seq[Map[String, Any]] = synchronized {
    final case class S(kind: String, name: String, start: Long, end: Long, attrs: Map[String, Any],
        var parent: Int = 0)
    val out = mutable.ArrayBuffer(S("workload", workload, t0, t1, Map.empty))
    def add(spans: Iterable[S]): Range = { val from = out.size; out ++= spans; from until out.size }
    def innermost(levels: Seq[Seq[Int]], s: Long, e: Long): Int = levels.reverseIterator
      .map(_.filter(i => out(i).start <= s && e <= out(i).end).minByOption(i => out(i).end - out(i).start))
      .collectFirst { case Some(i) => i }.getOrElse(0)
    val ps = add(phases.sortBy(p => (p.start, -p.end)).map(p => S("phase", p.name, p.start, p.end, Map.empty)))
    // phases nest in one another (the smallest enclosing one wins)
    ps.foreach { i => out(i).parent = innermost(Seq(ps.filter(_ < i)), out(i).start, out(i).end) }
    val bs = add(batches.map(b => S("batch", s"${b.query}#${b.id}", b.start, b.end,
      Map("rows" -> b.rows, "duration_ms" -> b.durations))))
    bs.foreach { i => out(i).parent = innermost(Seq(ps), out(i).start, out(i).end) }
    val as = add(actions.values.map(a => S("sql", a.name, a.start, a.end,
      Map("execution_id" -> a.id, "analysis_ms" -> a.analysisMs, "optimization_ms" -> a.optimizationMs,
        "planning_ms" -> a.planningMs, "plan_nodes" -> a.nodes))))
    as.foreach { i => out(i).parent = innermost(Seq(ps, bs), out(i).start, out(i).end) }
    val byExec = as.map(i => out(i).attrs("execution_id") -> i).toMap
    val js = add(jobs.values.map(j => S("job", s"job ${j.id}", j.start, j.end,
      Map("execution_id" -> j.execId, "tasks" -> j.tasks, "task_run_ms" -> j.runMs,
        "shuffle_read_bytes" -> j.shuffleRead, "shuffle_write_bytes" -> j.shuffleWrite,
        "spill_bytes" -> j.spill, "input_bytes" -> j.input, "output_bytes" -> j.output))))
    jobs.values.zip(js).foreach { case (j, i) =>
      out(i).parent = j.execId.flatMap(byExec.get)
        .getOrElse(innermost(Seq(ps, bs, as), out(i).start, out(i).end))
    }
    val children = out.indices.drop(1).groupBy(out(_).parent)
    out.indices.map { i =>
      val s = out(i)
      val covered = unionMs(children.getOrElse(i, Nil).map(c => (out(c).start, out(c).end)), s.start, s.end)
      Map("id" -> (i + 1), "parent" -> (if (i == 0) 0 else s.parent + 1), "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> (s.end - s.start - covered)) ++ s.attrs
    }
  }

  /** Catalyst and scheduler totals over the window [t0, t1]. */
  def sqlAndSpark(t0: Long, t1: Long, threads: Int): Map[String, Double] = {
    val as = actionsIn(t0, t1)
    val js = jobsIn(t0, t1)
    val runMs = js.map(_.runMs).sum.toDouble
    Map(
      "sql.actions" -> as.size.toDouble,
      "sql.analysis_ms" -> as.map(_.analysisMs).sum.toDouble,
      "sql.optimization_ms" -> as.map(_.optimizationMs).sum.toDouble,
      "sql.planning_ms" -> as.map(_.planningMs).sum.toDouble,
      "sql.exec_ms" -> as.map(a => a.end - a.start).sum.toDouble,
      "sql.plan_nodes_max" -> (if (as.isEmpty) 0.0 else as.map(_.nodes).max.toDouble),
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.stages.size).sum.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.task_run_ms" -> runMs,
      "spark.shuffle_read_bytes" -> js.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> js.map(_.spill).sum.toDouble,
      "spark.input_bytes" -> js.map(_.input).sum.toDouble,
      "spark.output_bytes" -> js.map(_.output).sum.toDouble,
      "spark.task_busy_share" -> runMs / math.max(1.0, (t1 - t0).toDouble * threads))
  }

  /** The merge layer (`Upsert`, inside each batch's addBatch): files and
    * buckets each merge rewrote (see [[watchTarget]]), the bytes its jobs
    * read, and its SQL actions and jobs. Per-merge figures are means over
    * the data batches. */
  def upsertLayers(changeBytesIn: Long): Map[String, Double] = synchronized {
    def inBatch(t: Long) = batches.exists(b => t >= b.start && t <= b.end)
    val as = actions.values.filter(a => inBatch(a.start)).toSeq
    val js = jobs.values.filter(j => inBatch(j.start)).toSeq
    val n = math.max(1, batches.size).toDouble
    val written = batches.map(_.written.map(_._2).sum).sum.toDouble
    Map(
      "upsert.buckets_touched" -> batches.map(_.written.map(_._1).distinct.size).sum / n,
      "upsert.bytes_read" -> js.map(_.input).sum.toDouble,
      "upsert.bytes_written" -> written,
      "upsert.files_written" -> batches.map(_.written.size).sum.toDouble,
      "upsert.sql_actions" -> as.size / n,
      "upsert.jobs" -> js.size / n,
      "upsert.write_amp" -> written / math.max(1L, changeBytesIn).toDouble)
  }

  /** Per-phase streaming split: median and sum over data batches. */
  def streamLayers(): Map[String, Double] = synchronized {
    val keys = Seq("latest_offset" -> "latestOffset", "get_batch" -> "getBatch",
      "query_planning" -> "queryPlanning", "add_batch" -> "addBatch", "wal_commit" -> "walCommit",
      "commit_offsets" -> "commitOffsets", "trigger" -> "triggerExecution")
    keys.flatMap { case (name, key) =>
      val xs = batches.map(_.durations.getOrElse(key, 0L).toDouble).toSeq
      Seq(s"stream.${name}_ms" -> Stats.median(xs), s"stream.${name}_ms_sum" -> xs.sum)
    }.toMap ++ Map(
      // trigger time no named phase covers (per-batch median)
      "stream.unaccounted_ms" -> Stats.median(batches.map { b =>
        b.durations.getOrElse("triggerExecution", 0L) -
          keys.init.map { case (_, k) => b.durations.getOrElse(k, 0L) }.sum.toDouble }.toSeq),
      "stream.batches" -> batches.size.toDouble,
      "stream.rows_per_batch" -> Stats.median(batches.map(_.rows.toDouble).toSeq))
  }
}

object Tracer {
  /** Length of the union of the intervals, clipped to [t0, t1]. */
  def unionMs(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var covered = 0L
    var reach = t0
    intervals.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }.sortBy(_._1).foreach {
      case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    covered
  }

  final case class Batch(query: String, id: Long, start: Long, durations: Map[String, Long], rows: Long,
      written: Seq[(String, Long)] = Nil) {
    def end: Long = start + durations.getOrElse("triggerExecution", 0L)
  }
  final case class Action(id: Long, var start: Long, var end: Long, var name: String,
      var analysisMs: Long, var optimizationMs: Long, var planningMs: Long, var nodes: Int,
      var writeFiles: Long = 0, var writeBytes: Long = 0, var writeRows: Long = 0)
  final case class Job(id: Int, start: Long, var end: Long, execId: Option[Long], stages: Seq[Int],
      var tasks: Long = 0, var runMs: Long = 0, var shuffleRead: Long = 0, var shuffleWrite: Long = 0,
      var spill: Long = 0, var input: Long = 0, var output: Long = 0)
  final case class Phase(name: String, start: Long, end: Long)
}
