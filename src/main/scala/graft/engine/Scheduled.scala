package graft.engine

import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.engine.ConfigReader.{optText, reqText}
import graft.model._
import graft.operators.Cron
import graft.streaming.Alerts

/** The cron-driven task families, one registry row each: the config
  * array (`<kind>Tasks`), the default schedule, the failure alert, the
  * entry parser, and the run-and-alert body. [[ConfigReader]] parses
  * every family's array through [[Family.task]]; [[GraftEngine]] turns
  * each parsed [[Task]] into one [[Cron.Job]] (the reference's crontab
  * line, cronjob.go:100-192) keyed `<kind><id>` — the subject every
  * alert from that job carries, and distinct across families that share
  * a numeric id, so the scheduler's at-most-once dedup never conflates
  * them. */
object Scheduled {

  /** One firing: the session, the fire instant, and an alert hook whose
    * subject defaults to the task's key. */
  final class Run(val spark: SparkSession, val now: LocalDateTime,
      alerts: Alerts.Sink, val key: String) {
    def alert(kind: String, message: String, subject: String = key): Unit =
      alerts.send(Alerts.Alert(kind, subject, message))
  }

  /** A registry row. Compared by identity: each family is one value. */
  final class Family[S] private[Scheduled] (val kind: String,
      val defaultSchedule: String, val failedAlert: String, val warnName: String,
      parse: JsonNode => S, private[Scheduled] val run: (Run, S) => Unit) {
    def configKey: String = s"${kind}Tasks"

    /** Parse one config entry; a bad schedule throws like a bad field,
      * so the entry is skipped alone. */
    def task(n: JsonNode): Task[S] = {
      val schedule = optText(n, "schedule").getOrElse(defaultSchedule)
      Cron.parse(schedule)
      Task(this, s"$kind${idOf(n)}", schedule, parse(n))
    }
  }

  /** One parsed entry — plain values, so an unchanged reload compares
    * equal and keeps its scheduler. */
  final case class Task[S](family: Family[S], key: String, schedule: String, spec: S) {
    def job(spark: SparkSession, alerts: Alerts.Sink, clock: () => LocalDateTime): Cron.Job =
      Cron.Job(key, schedule, () =>
        // a failing run alerts and yields the tick — it must not abort
        // the scheduler pass for the other due jobs
        try family.run(new Run(spark, clock(), alerts, key), spec)
        catch { case e: Exception =>
          alerts.send(Alerts.Alert(family.failedAlert, key, String.valueOf(e.getMessage)))
        })
  }

  private def family[S](kind: String, defaultSchedule: String, failedAlert: String,
      warnName: Option[String] = None)(parse: JsonNode => S)(run: (Run, S) => Unit): Family[S] =
    new Family(kind, defaultSchedule, failedAlert, warnName.getOrElse(kind), parse, run)

  private def idOf(n: JsonNode): Int = n.path("id").asInt(0)

  // reference pkg/backup/executor.go:157-271
  val Backup: Family[BackupSpec] = family[BackupSpec]("backup", "0 2 * * *", "backup_failed") { n =>
    BackupSpec(
      id = idOf(n),
      format = optText(n, "format").getOrElse("json"),
      tables = n.path("tables").elements.asScala.toSeq.map { t =>
        BackupTableSpec(
          tablePattern = reqText(t, "tablePattern"),
          fields = {
            val fs = t.path("fields").elements.asScala.map(_.asText).toSeq
            if (fs.isEmpty) Seq("all") else fs
          },
          timeField = optText(t, "timeField"),
          startOffsetDays = t.path("startOffsetDays").asInt(-1),
          endOffsetDays = t.path("endOffsetDays").asInt(-1))
      },
      compress = n.path("compress").asBoolean(true),
      sourceDir = reqText(n, "sourceDir"),
      outDir = reqText(n, "outDir"),
      // gcsAddress is the reference's field name for the upload
      // destination (config.go:19); uploadDir wins when both appear
      uploadDir = optText(n, "uploadDir").orElse(optText(n, "gcsAddress")))
  } { (r, s) => GraftEngine.runBackup(r.spark, s, r.now) }

  val Training: Family[TrainingExportSpec] =
    family[TrainingExportSpec]("training", "0 3 * * *", "training_export_failed") { n =>
      val rates = {
        val r = n.path("rates")
        if (r.isObject)
          r.fields.asScala.map { e =>
            require(e.getValue.isNumber, s"rate for '${e.getKey}' must be numeric")
            val v = e.getValue.asDouble
            require(v >= 0, s"rate for '${e.getKey}' must be >= 0")
            e.getKey -> v
          }.toMap
        else Map.empty[String, Double]
      }
      TrainingExportSpec(
        id = idOf(n),
        sourceDir = reqText(n, "sourceDir"),
        outDir = reqText(n, "outDir"),
        minQuality = n.path("minQuality").asDouble(0.66),
        capacity = {
          val c = n.path("capacity").asInt(512)
          require(c > 0, "capacity must be positive"); c
        },
        rates = rates)
    } { (r, s) => GraftEngine.runTrainingExport(r.spark, s) }

  val Optimize: Family[OptimizeSpec] =
    family[OptimizeSpec]("optimize", "0 4 * * *", "optimize_failed") { n =>
      val by = n.path("zorderBy")
      require(by.isArray && by.size == 2 && by.get(0).isTextual && by.get(1).isTextual,
        "zorderBy must be a two-column array")
      OptimizeSpec(
        id = idOf(n),
        sourceDir = reqText(n, "sourceDir"),
        outDir = reqText(n, "outDir"),
        zorderBy = (by.get(0).asText, by.get(1).asText),
        numFiles = {
          val f = n.path("numFiles").asInt(8)
          require(f > 0, "numFiles must be positive"); f
        })
    } { (r, s) => GraftEngine.runOptimize(r.spark, s) }

  val Dq: Family[DqSpec] = family[DqSpec]("dq", "0 6 * * *", "dq_failed") { n =>
    import graft.operators.DataQuality._
    val rules = n.path("rules").elements.asScala.toSeq.map { r =>
      val name = reqText(r, "name"); val column = reqText(r, "column")
      reqText(r, "kind") match {
        case "notNull"  => NotNull(name, column)
        case "unique"   => Unique(name, column)
        case "minValue" =>
          require(r.path("value").isNumber, s"rule '$name' needs a numeric value")
          MinValue(name, column, r.path("value").asDouble)
        case "maxValue" =>
          require(r.path("value").isNumber, s"rule '$name' needs a numeric value")
          MaxValue(name, column, r.path("value").asDouble)
        case "inSet" =>
          val vs = r.path("values")
          require(vs.isArray && vs.size > 0, s"rule '$name' needs a values array")
          InSet(name, column, vs.elements.asScala.toSeq.map(_.asText))
        case k => throw new IllegalArgumentException(s"unknown rule kind '$k'")
      }
    }
    require(rules.nonEmpty, "dq task needs at least one rule")
    DqSpec(
      id = idOf(n),
      sourceDir = reqText(n, "sourceDir"),
      table = reqText(n, "table"),
      rules = rules)
  } { (r, s) =>
    GraftEngine.runDqCheck(r.spark, s).foreach { case (rule, n) =>
      r.alert("dq_violation", s"rule $rule: $n violations", s"${r.key}/${s.table}")
    }
  }

  val AnnIndex: Family[AnnIndexSpec] =
    family[AnnIndexSpec]("annIndex", "0 5 * * *", "ann_index_failed") { n =>
      val spec = AnnIndexSpec(
        id = idOf(n),
        sourceDir = reqText(n, "sourceDir"),
        indexDir = reqText(n, "indexDir"),
        ivf = n.path("ivf").asBoolean(true),
        codes = n.path("codes").asBoolean(true),
        jl = n.path("jl").asBoolean(false),
        trainPq = n.path("trainPq").asBoolean(false),
        compact = n.path("compact").asBoolean(false))
      require(spec.ivf || spec.codes || spec.jl || spec.trainPq,
        "annIndex task maintains nothing: enable ivf, codes, jl, or trainPq")
      spec
    } { (r, s) => GraftEngine.runAnnIndexMaintenance(r.spark, s) }

  val Checksum: Family[ChecksumSpec] =
    family[ChecksumSpec]("checksum", "30 5 * * *", "checksum_failed") { n =>
      ChecksumSpec(
        id = idOf(n),
        sourceDir = reqText(n, "sourceDir"),
        targetDir = reqText(n, "targetDir"))
    } { (r, s) =>
      GraftEngine.runChecksumCompare(r.spark, s).foreach { case (month, src, tgt) =>
        r.alert("checksum_mismatch", s"month $month: source $src != target $tgt")
      }
    }

  val AnnEval: Family[AnnEvalSpec] =
    family[AnnEvalSpec]("annEval", "45 4 * * *", "ann_eval_failed") { n =>
      AnnEvalSpec(
        id = idOf(n),
        sourceDir = reqText(n, "sourceDir"),
        indexDir = reqText(n, "indexDir"),
        k = n.path("k").asInt(5),
        nprobe = n.path("nprobe").asInt(4),
        minRecallMicro = n.path("minRecallMicro").asLong(800000L))
    } { (r, s) =>
      val recall = GraftEngine.runAnnEval(r.spark, s)
      if (recall < s.minRecallMicro)
        r.alert("ann_recall_low", s"mean recall ${recall}u < bound ${s.minRecallMicro}u")
    }

  val ModelEval: Family[ModelEvalSpec] =
    family[ModelEvalSpec]("modelEval", "55 4 * * *", "model_eval_failed") { n =>
      ModelEvalSpec(
        id = idOf(n),
        sourceDir = reqText(n, "sourceDir"),
        minKappaMicro = n.path("minKappaMicro").asLong(200000L),
        minAucMicro = n.path("minAucMicro").asLong(700000L),
        maxEceMicro = n.path("maxEceMicro").asLong(150000L))
    } { (r, s) =>
      val m = GraftEngine.runModelEval(r.spark, s)
      m.kappaMicro.filter(_ < s.minKappaMicro).foreach(k =>
        r.alert("model_agreement_low", s"kappa ${k}u < bound ${s.minKappaMicro}u"))
      m.aucMicro.filter(_ < s.minAucMicro).foreach(a =>
        r.alert("model_auc_low", s"auc ${a}u < bound ${s.minAucMicro}u"))
      if (m.eceMicro > s.maxEceMicro)
        r.alert("model_calibration_off", s"ece ${m.eceMicro}u > bound ${s.maxEceMicro}u")
    }

  val Privacy: Family[PrivacySpec] =
    family[PrivacySpec]("privacy", "10 6 * * *", "privacy_audit_failed") { n =>
      val qis = n.path("quasiIds").elements.asScala.map(_.asText).toSeq
      val spec = PrivacySpec(
        id = idOf(n),
        sourceDir = reqText(n, "sourceDir"),
        table = optText(n, "table").getOrElse("customer"),
        quasiIds = if (qis.nonEmpty) qis else Seq("c_nationkey", "c_mktsegment"),
        sensitive = optText(n, "sensitive").getOrElse("c_acctbal"),
        bandWidth = n.path("bandWidth").asLong(1000L),
        minK = n.path("minK").asLong(5L),
        minL = n.path("minL").asLong(2L),
        maxEmdMicro = n.path("maxEmdMicro").asLong(200000L))
      require(!spec.quasiIds.contains(spec.sensitive),
        "privacy task: the sensitive column cannot also be a quasi-identifier")
      spec
    } { (r, s) =>
      val a = GraftEngine.runPrivacyAudit(r.spark, s)
      val subject = s"${r.key}/${s.table}"
      if (a.minGroupSize < s.minK)
        r.alert("privacy_k_low", s"smallest QI group ${a.minGroupSize} < k=${s.minK}", subject)
      if (a.minLValue < s.minL)
        r.alert("privacy_l_low", s"least-diverse QI group l=${a.minLValue} < l=${s.minL}", subject)
      if (a.maxEmdMicro > s.maxEmdMicro)
        r.alert("privacy_t_distance_high",
          s"furthest QI group EMD ${a.maxEmdMicro}u > t=${s.maxEmdMicro}u", subject)
    }

  val Graph: Family[GraphTaskSpec] =
    family[GraphTaskSpec]("graph", "20 5 * * *", "graph_maintenance_failed") { n =>
      GraphTaskSpec(
        id = idOf(n),
        sourceDir = reqText(n, "sourceDir"),
        storeDir = reqText(n, "storeDir"),
        compact = n.path("compact").asBoolean(false))
    } { (r, s) => GraftEngine.runGraphMaintenance(r.spark, s) }

  val Retrain: Family[RetrainSpec] =
    family[RetrainSpec]("retrain", "40 3 * * *", "model_retrain_failed") { n =>
      val spec = RetrainSpec(
        id = idOf(n),
        sourceDir = reqText(n, "sourceDir"),
        storeDir = reqText(n, "storeDir"),
        iters = n.path("iters").asInt(20),
        lr = n.path("lr").asLong(16L),
        minGainMicro = n.path("minGainMicro").asLong(5000L))
      require(spec.iters > 0 && spec.lr > 0, "retrain task: iters/lr must be positive")
      require(spec.minGainMicro >= 0, "retrain task: minGainMicro must be non-negative")
      spec
    } { (r, s) =>
      val res = GraftEngine.runModelRetrain(r.spark, s)
      if (res.promoted)
        r.alert("model_promoted", s"candidate AUC ${res.candidateAucMicro}u replaces " +
          res.incumbentAucMicro.fold("(founding)")(a => s"${a}u"))
    }

  val Drift: Family[DriftSpec] =
    family[DriftSpec]("drift", "25 6 * * *", "drift_audit_failed") { n =>
      val spec = DriftSpec(
        id = idOf(n),
        sourceDir = reqText(n, "sourceDir"),
        bucketWidth = n.path("bucketWidth").asDouble(5.0),
        maxTvdMicro = n.path("maxTvdMicro").asLong(200000L))
      require(spec.bucketWidth > 0, "drift task: bucketWidth must be positive")
      spec
    } { (r, s) =>
      GraftEngine.runDriftAudit(r.spark, s).foreach { case (eventType, tvd) =>
        r.alert("value_drift_high", s"TVD ${tvd}u > bound ${s.maxTvdMicro}u",
          s"${r.key}/$eventType")
      }
    }

  val GraphHealth: Family[GraphHealthSpec] =
    family[GraphHealthSpec]("graphHealth", "45 6 * * *", "graph_health_failed",
        warnName = Some("graph health")) { n =>
      val spec = GraphHealthSpec(
        id = idOf(n),
        sourceDir = reqText(n, "sourceDir"),
        iters = n.path("iters").asInt(4),
        minQMicro = n.path("minQMicro").asLong(100000L),
        epochs = n.path("epochs").asInt(4),
        maxDriftMicro = n.path("maxDriftMicro").asLong(Long.MaxValue),
        storeDir = optText(n, "storeDir").getOrElse(""))
      require(spec.iters > 0, "graph health task: iters must be positive")
      require(spec.epochs >= 2, "graph health task: epochs must be >= 2")
      spec
    } { (r, s) =>
      GraftEngine.runGraphHealth(r.spark, s).foreach { h =>
        if (h.qMicro < s.minQMicro)
          r.alert("graph_modularity_low",
            s"Q ${h.qMicro}u < bound ${s.minQMicro}u over ${h.nCommunities} communities")
      }
      // drift watch (q298, opt-in): a structure that DECAYS epoch
      // over epoch pages even while absolute Q still clears the bar
      if (s.maxDriftMicro != Long.MaxValue)
        GraftEngine.runGraphEvolution(r.spark, s).foreach { case (epoch, drop) =>
          r.alert("graph_modularity_drift",
            s"epoch $epoch dropped ${drop}u > bound ${s.maxDriftMicro}u")
        }
    }

  val Er: Family[ErTaskSpec] =
    family[ErTaskSpec]("er", "15 5 * * *", "er_maintenance_failed") { n =>
      ErTaskSpec(
        id = idOf(n),
        sourceDir = reqText(n, "sourceDir"),
        storeDir = reqText(n, "storeDir"),
        compact = n.path("compact").asBoolean(false))
    } { (r, s) => GraftEngine.runErMaintenance(r.spark, s) }

  /** Every family, in scheduler order. */
  val Families: Seq[Family[_]] = Seq(Backup, Training, Optimize, Dq, AnnIndex,
    Checksum, AnnEval, ModelEval, Privacy, Graph, Retrain, Drift, GraphHealth, Er)
}
