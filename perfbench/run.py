#!/usr/bin/env python3
"""syncspark benchmark entry point.

    python3 perfbench/run.py --workload cdc_live|batch_board \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the harness together with the
library sources (sbt, offline) when they changed, runs one workload in one
JVM at local[4], checks every output against an independent oracle, and
prints one JSON line last: end-to-end metrics with --trace 0, per-layer
metrics (plus the span file under .bench_work/trace) with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracles  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("cdc_live", "batch_board")
END_TO_END = {  # name -> unit
    "setup_s": "s", "rows_per_s": "rows/s", "short_op_s": "s", "long_op_s": "s"}
BOARD_ROWS = (
    "q5_source_target_diff", "q10_union_merged", "q11_masked_projection", "q13_daily_sync_stats",
    "q14_encrypt_roundtrip", "q15_conditional_count", "q16_export_window", "q17_nested_mask",
    "q31_cdc_state", "q48_cdc_tombstones", "q122_sqldump_restore",
    "q246_components", "q281_entity_clusters", "q230_pagerank", "q231_triangles")


def per_layer_units():
    """Every per-layer metric name -> unit. A layer a workload does not
    exercise reports 0."""
    u = {}
    for p in ("latest_offset", "get_batch", "query_planning", "add_batch", "wal_commit",
              "commit_offsets", "trigger"):
        u[f"stream.{p}_ms"] = "ms"
        u[f"stream.{p}_ms_sum"] = "ms"
    u.update({"stream.unaccounted_ms": "ms", "stream.batches": "count",
              "stream.rows_per_batch": "rows", "stream.backlog_files": "count"})
    u.update({"upsert.buckets_touched": "count", "upsert.bytes_read": "bytes",
              "upsert.bytes_written": "bytes", "upsert.files_written": "count",
              "upsert.sql_actions": "count", "upsert.jobs": "count", "upsert.write_amp": "ratio"})
    for p in ("poll_once", "drain", "monitor_counts", "count_report_warm"):
        u[f"engine.{p}_ms"] = "ms"
    u["engine.count_report_warm_jobs"] = "count"
    u.update({"backup.run_ms": "ms", "backup.write_ms": "ms", "backup.zip_ms": "ms",
              "backup.rows": "rows", "backup.bytes_written": "bytes", "backup.files": "count"})
    for q in BOARD_ROWS:
        u[f"board.{q}.s"] = "s"
        u[f"board.{q}.plan_ms"] = "ms"
        u[f"board.{q}.exec_ms"] = "ms"
    u.update({"sql.actions": "count", "sql.analysis_ms": "ms", "sql.optimization_ms": "ms",
              "sql.planning_ms": "ms", "sql.exec_ms": "ms", "sql.plan_nodes_max": "count"})
    u.update({"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
              "spark.task_run_ms": "ms", "spark.shuffle_read_bytes": "bytes",
              "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
              "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
              "spark.task_busy_share": "share"})
    u.update({"gen.late_ms_p95": "ms", "gen.late_ms_max": "ms", "gen.files": "count",
              "gen.events": "count"})
    u.update({"probe.unmasked_snapshot_rows": "rows", "probe.dlq_batches": "count"})
    u["trace.overhead_pct"] = "%"
    return u


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest(root):
    """Hash of what the build compiles: library and harness sources, the
    library's resources and the build definition (build output skipped)."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(root, "src", "main"), os.path.join(HERE, "scala")):
        for base, dirs, names in os.walk(d):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, deadline):
    """Compile harness + library with sbt when the sources changed."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(root, ".bench_build", "stamp")
    digest = sources_digest(root)
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, False
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    with open(os.path.join(root, ".bench_build", "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "Compile/copyResources"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            timeout=max(60, deadline - time.time()))
    if proc.returncode != 0:
        raise SystemExit("build failed, see .bench_build/build.log")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, True


def run_jvm(root, classes, args, work, deadline):
    spark_home = os.environ["SPARK_HOME"]
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = ["java", *opens, "-Xmx3g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-cp", f"{classes}:{os.path.join(spark_home, 'jars', '*')}", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work, "--out", out, "--bench-dir", HERE]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("benchmark JVM timed out, see .bench_work/run/jvm.log")
    if rc != 0:
        raise SystemExit(f"benchmark JVM exited {rc}, see .bench_work/run/jvm.log")
    with open(out) as f:
        return json.load(f)


def verify(v):
    """Run one output check; returns [(name, ok, detail)] and the export's
    row count (None for other checks)."""
    if v["kind"] == "lww":
        ok, d = oracles.check_lww(v)
        return [(f"{v['name']}.target_equals_lww_fold", ok, d)], None
    if v["kind"] == "board":
        return [(f"{q}_matches_oracle", ok, d) for q, (ok, d) in oracles.check_board(v).items()], None
    rows, ok, d = oracles.check_export(v)
    return [("export_complete", ok, d)], rows


def evaluate(res):
    """(end-to-end metrics, report lines, attempted, failed, checks)."""
    execs = [res["warmup"]] + res["runs"] + [res["extras"]]
    attempted = sum(e["attempted"] for e in execs)
    failed = sum(e["failed"] for e in execs)
    checks = []
    export_rows = []
    for i, e in enumerate(execs):
        tag = "warmup" if i == 0 else "extras" if i == len(execs) - 1 else f"run{i - 1}"
        checks += [(f"{tag}.{n}", ok, d) for n, ok, d in
                   ((c["name"], c["ok"], c["detail"]) for c in e["checks"])]
        for v in e["verify"]:
            found, rows = verify(v)
            checks += [(f"{tag}.{n}", ok, d) for n, ok, d in found]
            # a board row or export that fails its oracle is a failed op
            if v["kind"] != "lww":
                failed += sum(1 for _, ok, _ in found if not ok)
            if rows is not None:
                export_rows.append(rows)
    base = res["runs"][0]["measures"]
    if res["workload"] == "cdc_live":
        e2e, named = stats.cdc_live(base, res["extras"]["measures"])
    else:
        e2e, named = stats.batch_board(base, export_rows[0])
    e2e["setup_s"] = stats.setup_s(res["setup"])
    named["setup_s"] = (e2e["setup_s"], "s")
    named["ops_failed_ratio"] = (stats.failed_ratio(attempted, failed), "ratio")
    return e2e, named, attempted, failed, checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    # the harness drives the library from source: refuse to run without it
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        log("no library sources under ./src/main/scala: run from the repository root")
        return 2
    if not os.environ.get("SPARK_HOME"):
        log("SPARK_HOME is not set")
        return 2
    os.makedirs(os.path.join(root, ".bench_build"), exist_ok=True)
    classes, built = build(root, started + 870)
    work = os.path.join(root, ".bench_work", "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # 180 s per run; the run that builds may take 900 s in all
    t0 = time.time()
    res = run_jvm(root, classes, args, work, started + (880 if built else 170))
    t1 = time.time()
    e2e, named, attempted, failed, checks = evaluate(res)
    log(f"jvm {t1 - t0:.1f} s, checks {time.time() - t1:.1f} s")
    for name, ok, detail in checks:
        print(f"[check] {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    for name, (v, unit) in named.items():
        print(f"[{args.workload}] {name} = {v:.6g} {unit}")
    correct = all(ok for _, ok, _ in checks)
    if args.trace:
        units = per_layer_units()
        layers = res["layers"] or {}
        unknown = sorted(set(layers) - set(units))
        if unknown:  # the harness and BENCHMARK.json's per-layer list drifted
            log(f"per-layer figures missing from the metric list: {unknown}")
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
        trace_dir = os.path.join(root, ".bench_work", "trace", args.workload)
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
        shutil.copy(os.path.join(work, "trace", "spans.jsonl"), trace_dir)
        with open(os.path.join(trace_dir, "layers.json"), "w") as f:
            json.dump({k: m["value"] for k, m in metrics.items()}, f, indent=1, sort_keys=True)
        print(f"[{args.workload}] trace.overhead_pct = {layers.get('trace.overhead_pct', 0):.3g} %"
              f" (spans and layers in .bench_work/trace/{args.workload})")
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    # keep the raw measurements of the last run beside the trace output
    shutil.copy(os.path.join(work, "result.json"),
                os.path.join(root, ".bench_work", f"result-{args.workload}.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
