package perfbench

import java.nio.file.{Files, Path, Paths}

/** One benchmark invocation inside a single JVM at `local[4]`:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE --bench-dir DIR
  *
  * Set-up (session start, input generation three times, one warm-up),
  * then one execution of the workload with no listener registered. With
  * `--trace 1` a second, traced execution follows; its spans land under
  * `DIR/trace`. Raw measurements go to FILE as JSON; run.py turns them
  * into metrics and checks the outputs. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val workload = Workloads.all(name)
    val work = Paths.get(opts("work")).toAbsolutePath
    val trace = opts("trace") == "1"
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.local("4")
    val sessionS = (Workloads.now() - jvmStart) / 1000.0
    val ctx = Ctx(spark, work, opts("seed").toLong, opts("seconds").toDouble, opts("bench-dir"), 4)
    def fresh(p: Path): Path = { Changes.deleteTree(p); Files.createDirectories(p) }
    try {
      val inputsS = (1 to 3).map(_ => Workloads.clock(workload.prepare(ctx))._2)
      val (warm, warmupS) = Workloads.clock(workload.warmup(ctx))
      val base = workload.execute(ctx, fresh(work.resolve("run-0")), None)
      val traced = if (!trace) None else {
        val tracer = new Tracer(spark)
        tracer.start()
        val start = Workloads.now()
        val ex = try workload.execute(ctx, fresh(work.resolve("run-1")), Some(tracer))
        finally tracer.stop()
        val dir = fresh(work.resolve("trace"))
        Files.write(dir.resolve("spans.jsonl"), tracer.spans(name, start, Workloads.now())
          .map(Json.render).mkString("", "\n", "\n").getBytes("UTF-8"))
        // scheduler and Catalyst totals over the timed region only
        val Seq(t0, t1) = ex.measures("window_ms").asInstanceOf[Seq[Long]]
        Some(ex.copy(layers = ex.layers ++ tracer.sqlAndSpark(t0, t1, ctx.threads) +
          ("trace.overhead_pct" -> (ex.headline / base.headline - 1.0) * 100.0)))
      }
      val extras = if (trace) workload.extras(ctx) else Exec.none
      def runJson(e: Exec) = Map("measures" -> e.measures, "attempted" -> e.attempted,
        "failed" -> e.failed, "verify" -> e.verify, "headline" -> e.headline,
        "checks" -> e.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) })
      Json.write(opts("out"), Map(
        "workload" -> name,
        "setup" -> Map("session_s" -> sessionS, "inputs_s" -> inputsS, "warmup_s" -> warmupS),
        "warmup" -> runJson(warm),
        "runs" -> (base +: traced.toSeq).map(runJson),
        "extras" -> runJson(extras),
        "layers" -> traced.map(_.layers ++ extras.layers)))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        // a stray non-daemon thread must not keep a failed run alive
        sys.exit(1)
    }
    spark.stop()
    sys.exit(0)
  }
}
