"""The benchmark's own math: medians, the percentile rule, the failure
ratio, and the metric definitions of each workload."""
import math
import statistics

# samples that must lie beyond a reported percentile
TAIL_SAMPLES = 10


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, q):
    """The q-quantile of xs, capped at the highest percentile that still has
    at least TAIL_SAMPLES samples beyond it. Returns (value, percentile
    actually reported). Nearest-rank on the sorted samples."""
    if len(xs) <= TAIL_SAMPLES:
        raise ValueError(f"{len(xs)} samples: no percentile has {TAIL_SAMPLES} beyond it")
    s = sorted(xs)
    n = len(s)
    idx = max(0, min(math.ceil(q * n) - 1, n - 1 - TAIL_SAMPLES))
    return s[idx], (idx + 1) / n


def failed_ratio(attempted, failed):
    """failed / attempted over all operations; no attempts counts as total
    failure."""
    if attempted <= 0:
        return 1.0
    return failed / attempted


def setup_s(setup):
    """Session start + warm-up + the median of the repeated input
    generations."""
    return setup["session_s"] + setup["warmup_s"] + median(setup["inputs_s"])


def cdc_live(m, catchup):
    """Live figures from the timed execution; a traced run's catch-up
    figures are reported by name beside them."""
    lat = m["latencies_s"]
    p50, _ = percentile(lat, 0.50)
    p95, at = percentile(lat, 0.95)
    rate = m["applied_rows"] / m["applied_s"]
    return {
        "rows_per_s": rate,
        "short_op_s": p50,
        "long_op_s": p95,
    }, {
        "commit_latency_p50_s": (p50, "s"),
        f"commit_latency_p95_s (reported at p{round(at * 100)}, n={len(lat)})": (p95, "s"),
        "applied_rows_per_s": (rate, "rows/s"),
    } | ({
        "catchup_rows_per_s": (catchup["events"] / catchup["drain_s"], "rows/s"),
        "snapshot_rows_per_s": (catchup["snapshot_rows"] / catchup["poll_once_s"], "rows/s"),
        "monitor_tick_s": (catchup["monitor_s"], "s"),
    } if catchup else {})


def batch_board(m, export_rows):
    row = {q: median(xs) for q, xs in m["row_s"].items()}
    sync = sum(row[q] for q in m["sync_rows"])
    it = sum(row[q] for q in m["iter_rows"])
    rate = export_rows / median(m["backup_s"])
    return {
        "rows_per_s": rate,
        "short_op_s": sync,
        "long_op_s": it,
    }, {
        "board_sync_s": (sync, "s"),
        "board_iter_s": (it, "s"),
        "export_rows_per_s": (rate, "rows/s"),
    }
