package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.GraftEngine

/** Shared state of one benchmark invocation. */
final case class Ctx(spark: SparkSession, work: Path, seed: Long, seconds: Double,
    benchDir: String, threads: Int) {
  def inputs: Path = work.resolve("inputs")
}

/** The outcome of one execution of a workload (or of its warm-up).
  * `measures` are the raw timings the end-to-end metrics are computed
  * from (by run.py); `verify` names the outputs run.py checks against its
  * oracles; `headline` is the figure the tracing overhead compares. */
final case class Exec(measures: Map[String, Any], attempted: Int, failed: Int,
    checks: Seq[(String, Boolean, String)], verify: Seq[Map[String, Any]], headline: Double,
    layers: Map[String, Double] = Map.empty)

trait Workload {
  /** Generate this run's inputs under `ctx.inputs` from the seed. */
  def prepare(ctx: Ctx): Unit
  /** Untimed warm-up of the paths the timed region uses; any outputs it
    * names are checked like an execution's. */
  def warmup(ctx: Ctx): Exec
  /** One timed execution; `run` is a fresh directory for its outputs. */
  def execute(ctx: Ctx, run: Path, tracer: Option[Tracer]): Exec
  /** Untimed work of a traced run, reported as per-layer figures. */
  def extras(ctx: Ctx): Exec = Exec.none
}

object Exec {
  val none: Exec = Exec(Map.empty, 0, 0, Nil, Nil, 0.0)
}

object Workloads {
  val all: Map[String, Workload] = Map("cdc_live" -> Live, "batch_board" -> Board)

  def now(): Long = System.currentTimeMillis()

  def clock[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Time `body`, recording it as a phase when tracing. */
  def timed[T](tracer: Option[Tracer], name: String)(body: => T): (T, Double) =
    clock(tracer.fold(body)(_.phase(name)(body)))

  /** The merged target as plain columns for run.py's last-writer-wins
    * check: recency as epoch ms, `value` decrypted when it is encrypted. */
  def writeTargetView(spark: SparkSession, targetDir: String, out: String): Unit = {
    val t = graft.operators.Upsert.readTarget(spark, targetDir)
    val value = t.schema("value").dataType match {
      case org.apache.spark.sql.types.StringType =>
        graft.functions.Security.decrypt(col("value")).cast("double")
      case _ => col("value").cast("double")
    }
    t.select(col("key"), value.as("value"), col("k").cast("string").as("k"),
        unix_millis(col("updated_at")).as("updated_at_ms"), col("updated_off"),
        coalesce(col("deleted"), lit(false)).as("deleted"))
      .coalesce(1).write.mode("overwrite").parquet(out)
  }

  def writeConfig(path: Path, json: String): String = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, json)
    path.toString
  }

  /** Sync-task run dirs: inputs (source, snapshot) may be shared by
    * several executions; target, checkpoint and DLQ are per execution. */
  def syncConfig(inputs: Path, run: Path, table: String, snapshot: Boolean,
      security: Seq[(String, String)], countField: String): String =
    s"""{"syncTasks":[{"id":1,"type":"mongodb","enabled":true,
       |"sourceDir":"$inputs/source","targetDir":"$run/target",
       |"checkpointDir":"$run/checkpoint","dlqDir":"$run/dlq",
       |${if (snapshot) s""""snapshotDir":"$inputs/snapshot",""" else ""}
       |"securityEnabled":${security.nonEmpty},
       |"tables":[{"sourceTable":"$table","targetTable":"$table","keyColumns":["key"],
       |"fieldSecurity":[${security.map { case (f, t) =>
         s"""{"field":"$f","securityType":"$t"}""" }.mkString(",")}],
       |"countQuery":{"conditions":[{"field":"$countField","operator":">=","value":"0"}]}}]}]}"""
      .stripMargin

  /** Write `rows` snapshot rows of the wide table as parquet. */
  def writeSnapshot(spark: SparkSession, seed: Long, rows: Long, dir: String): Unit = {
    import spark.implicits._
    spark.range(0L, rows, 1L, 4).map(i => Changes.snapshotRow(seed, i))
      .toDF("key", "value", "k").write.mode("overwrite").parquet(dir)
  }

  /** Drain a `--once` sync task: (poll, drain) seconds; throws if the
    * stream failed. */
  def runOnce(engine: GraftEngine): (Double, Double) = {
    val (rec, pollS) = clock(engine.pollOnce())
    require(rec.failed.isEmpty, s"pipeline start failed: ${rec.failed}")
    val (_, drainS) = clock(engine.awaitDrained())
    (pollS, drainS)
  }
}
