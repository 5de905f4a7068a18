"""Independent output checks: a last-writer-wins fold of the change inputs
for the CDC targets, DuckDB oracles for the board rows, and the export's
row count and zip contents."""
import datetime as dt
import glob
import gzip
import json
import os
import zipfile

MASK = "****"


def _ts_ms(s):
    return int(dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000)


def read_events(source_dir):
    """Every change event in the source directory's JSON files."""
    events = []
    for path in sorted(glob.glob(os.path.join(source_dir, "*.json"))):
        with open(path) as f:
            for line in f:
                if line.strip():
                    e = json.loads(line)
                    e["ts_ms"] = _ts_ms(e["ts"])
                    events.append(e)
    return events


def lww_fold(snapshot_rows, events, masked=False):
    """Expected target: key -> (value, k, updated_at_ms, updated_off, deleted).

    Snapshot rows carry no recency and lose to any change. Per key the change
    with the greatest (ts, offset) wins; a winning delete leaves a tombstone
    (null payload, deleted). With `masked`, live `k` cells read as the mask.
    """
    out = {key: (value, str(k), None, None, False) for key, value, k in snapshot_rows}
    last = {}
    for e in events:
        cur = last.get(e["key"])
        if cur is None or (e["ts_ms"], e["offset"]) > (cur["ts_ms"], cur["offset"]):
            last[e["key"]] = e
    for key, e in last.items():
        if e["op"] == "delete":
            out[key] = (None, None, e["ts_ms"], e["offset"], True)
        else:
            a = e["after"]
            k = MASK if masked else str(a["k"])
            out[key] = (a["value"], k, e["ts_ms"], e["offset"], False)
    return out


def read_rows(path, columns):
    import pyarrow.dataset as ds
    t = ds.dataset(path, format="parquet").to_table(columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


def check_lww(v):
    """Compare the target view with the fold; returns (ok, detail)."""
    snapshot = read_rows(v["snapshot"], ["key", "value", "k"]) if v["snapshot"] else []
    want = lww_fold(snapshot, read_events(v["source"]), masked=v["masked"])
    got = {r[0]: tuple(r[1:]) for r in read_rows(
        v["view"], ["key", "value", "k", "updated_at_ms", "updated_off", "deleted"])}
    bad = [k for k in set(want) | set(got) if want.get(k) != got.get(k)]
    detail = f"{len(got)} target rows, {len(bad)} differ"
    if bad:
        k = sorted(bad)[0]
        detail += f"; key {k}: want {want.get(k)} got {got.get(k)}"
    return not bad, detail


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = [tuple(round(r[i], 9) if isinstance(r[i], float) else r[i] for i in order) for r in rows]
    norm.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], norm


def _tclass(t):
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
        return "INT<=64"
    return "FLOAT" if t in ("FLOAT", "DOUBLE") else t


def check_board(v):
    """Each dumped row against its DuckDB oracle: columns sorted by name,
    rows sorted, floats to 9 places, DuckDB logical types compared with
    integer widths up to 64 bits as one class. Returns {row: (ok, detail)}."""
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(v["tables"], "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    with open(os.path.join(v["out"], "oracle_sql.json")) as f:
        oracle = json.load(f)
    res = {}
    for q in v["rows"]:
        try:
            got = con.sql(f"SELECT * FROM '{v['out']}/{q}/*.parquet'")
            want = con.sql(oracle[q])
            gt = {c: str(t) for c, t in zip(got.columns, got.types)}
            wt = {c: str(t) for c, t in zip(want.columns, want.types)}
            gc, gr = _canon(list(got.columns), got.fetchall())
            wc, wr = _canon(list(want.columns), want.fetchall())
        except Exception as e:  # a missing dump or a failing oracle
            res[q] = (False, str(e).splitlines()[0])
            continue
        if gc != wc:
            res[q] = (False, f"columns {gc} != {wc}")
        elif any(_tclass(gt[c]) != _tclass(wt[c]) for c in gc):
            res[q] = (False, f"types {gt} != {wt}")
        elif gr != wr:
            res[q] = (False, f"{len(gr)} rows vs {len(wr)}")
        else:
            res[q] = (True, f"{len(gr)} rows")
    return res


def check_export(v):
    """Exported rows equal the windowed source rows, and each zip in the
    store holds every part file of its export. Returns (rows, ok, detail)."""
    import duckdb
    con = duckdb.connect()
    lo, hi = v["window"]
    total, ok, notes = 0, True, []
    for prefix, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        want = con.execute(
            f"SELECT count(*) FROM '{v['tables']}/slices/{prefix}_*/*.parquet' "
            f"WHERE CAST({col} AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}'").fetchone()[0]
        out = os.path.join(v["export"], f"{prefix}_{lo}.json")
        parts = sorted(p for p in os.listdir(out) if not p.startswith(("_", ".")))
        got = 0
        for p in parts:
            with gzip.open(os.path.join(out, p), "rt") as f:
                got += sum(1 for line in f if line.strip())
        with zipfile.ZipFile(os.path.join(v["store"], f"{prefix}_{lo}.zip")) as z:
            zipped = sorted(z.namelist())
        total += got
        if got != want or zipped != parts:
            ok = False
        notes.append(f"{prefix}: {got}/{want} rows, {len(zipped)}/{len(parts)} parts zipped")
    return total, ok, "; ".join(notes)
