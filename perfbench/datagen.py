"""Seeded synthetic tables for the batch_board workload.

Writes `<out>/<table>.parquet` in the layout the library's `Tables` loader
reads (TPC-H-like star schema plus an `events` stream table), and the
date-suffixed `orders_YYYY` / `lineitem_YYYY` slice directories the backup
task exports. The same (sf, seed) always gives the same rows. Row counts
follow the scale factor `sf` (sf=1 -> 1.5M orders, ~6M lineitem).

    python3 perfbench/datagen.py <out_dir> <sf> <seed>
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = np.datetime64("1970-01-01T00:00:00", "us")
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["widget", "bolt", "gear", "ring", "plate", "rod", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(lo, hi, n, rng):
    """n random midnight timestamps in [lo, hi] (inclusive dates)."""
    span = (np.datetime64(hi) - np.datetime64(lo)).astype(int) + 1
    d = np.datetime64(lo) + rng.integers(0, span, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _ts(values):
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def tables(sf, seed):
    """name -> pyarrow.Table, deterministic in (sf, seed)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 2)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    odate = _days("1995-01-01", "2001-07-31", n_ord, rng)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    # 1..7 lines per order, ~4 on average
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odate[okey] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship)})
    # events: ~30 days of January 2024, event_id in time order
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + \
        (np.datetime64("2024-01-01T00:00:00", "us") - EPOCH_US).astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")})
    return out


def year_slices(t, date_col):
    """Split a table by the year of `date_col` -> {year: table}."""
    years = pa.compute.year(t[date_col]).to_numpy()
    return {int(y): t.filter(pa.array(years == y)) for y in np.unique(years)}


def write(out_dir, sf, seed):
    """Write every table plus the backup slices; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    ts = tables(sf, seed)
    for name, t in ts.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    slices = os.path.join(out_dir, "slices")
    for name, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        for year, part in year_slices(ts[name], col).items():
            d = os.path.join(slices, f"{name}_{year}")
            os.makedirs(d, exist_ok=True)
            pq.write_table(part, os.path.join(d, "part-00000.parquet"))
    return {name: t.num_rows for name, t in ts.items()}


if __name__ == "__main__":
    import sys
    t0 = dt.datetime.now()
    print(write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3])), dt.datetime.now() - t0)
