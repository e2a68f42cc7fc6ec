"""Seeded input generators for the benchmark.

Everything here runs in the benchmark's own process with numpy and
pyarrow only; Spark never sees the seed, only the files written.

* ``trips_files`` writes trips CSVs in the reference's schema
  (region, WKT origin/destination, datetime, datasource) with a
  controlled in-file duplicate share and cross-file overlap share, and
  returns the exact number of distinct rows as ground truth.
* ``corpus_tables`` writes the parquet tables the registered queries
  read (``<dir>/<table>.parquet``): a TPC-H-style star schema plus
  ``events`` and ``embeddings``.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = {
    "Prague": (14.45, 50.05), "Turin": (7.68, 45.06),
    "Hamburg": (9.99, 53.55), "Lisbon": (-9.14, 38.72),
    "Oslo": (10.75, 59.91), "Lyon": (4.83, 45.76),
}
DATASOURCES = ("funny_car", "baba_car", "cheap_mobile",
               "bad_diesel_vehicles", "pt_search_app")
TRIPS_HEADER = ("region", "origin_coord", "destination_coord",
                "datetime", "datasource")
# 2018-05-01 00:00:00 UTC
_T0 = 1525132800


def _trip_rows(rng: np.random.Generator, n: int, t_lo: int, t_hi: int):
    names = list(REGIONS)
    reg = rng.integers(0, len(names), n)
    centers = np.array([REGIONS[r] for r in names])[reg]
    o = centers + rng.normal(0.0, 0.08, (n, 2))
    d = centers + rng.normal(0.0, 0.08, (n, 2))
    ts = rng.integers(t_lo, t_hi, n)
    ds = rng.integers(0, len(DATASOURCES), n)
    stamps = np.datetime_as_string(ts.astype("datetime64[s]"), unit="s")
    return [
        (names[reg[i]],
         f"POINT ({o[i, 0]:.6f} {o[i, 1]:.6f})",
         f"POINT ({d[i, 0]:.6f} {d[i, 1]:.6f})",
         stamps[i].replace("T", " "),
         DATASOURCES[ds[i]])
        for i in range(n)
    ]


def trips_files(out_dir: str, seed: int, n_files: int, rows_per_file: int,
                dup_share: float = 0.1, overlap_share: float = 0.2,
                time_ordered: bool = False) -> dict:
    """Write ``n_files`` trips CSVs of ``rows_per_file`` rows each.

    ``dup_share`` of each file's rows repeat rows of the same file and
    ``overlap_share`` repeat rows of the previous file. With
    ``time_ordered`` each file covers its own consecutive 6-hour slice
    (the order a landing zone receives drops in), so a streaming dedup
    with a one-day watermark never sees a row as late.

    Returns ``{"files", "input_rows", "distinct_rows",
    "distinct_csv_bytes"}``; ``distinct_csv_bytes`` is the size of the
    distinct rows as CSV lines, the base for bytes-stored ratios.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_dup = int(rows_per_file * dup_share)
    n_over = int(rows_per_file * overlap_share)
    files, seen, prev = [], set(), []
    input_rows = 0
    for i in range(n_files):
        if time_ordered:
            t_lo, t_hi = _T0 + i * 21600, _T0 + (i + 1) * 21600
        else:
            t_lo, t_hi = _T0, _T0 + 31 * 86400
        over = ([prev[j] for j in rng.integers(0, len(prev), n_over)]
                if prev else [])
        fresh = _trip_rows(rng, rows_per_file - n_dup - len(over), t_lo, t_hi)
        base = fresh + over
        dups = [base[j] for j in rng.integers(0, len(base), n_dup)]
        rows = base + dups
        order = rng.permutation(len(rows))
        path = os.path.join(out_dir, f"trips-{i:04d}.csv")
        with open(path, "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(TRIPS_HEADER)
            w.writerows(rows[j] for j in order)
        files.append(path)
        seen.update(rows)
        input_rows += len(rows)
        prev = fresh
    distinct_bytes = sum(len(",".join(r)) + 1 for r in seen)
    return {"files": files, "input_rows": input_rows,
            "distinct_rows": len(seen), "distinct_csv_bytes": distinct_bytes}


def _ts_us(rng, n, lo: str, hi: str):
    a = np.datetime64(lo, "us").astype(np.int64)
    b = np.datetime64(hi, "us").astype(np.int64)
    return pa.array(np.sort(rng.integers(a, b, n)), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def corpus_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the TPC-H-style star schema plus ``events`` and
    ``embeddings`` at scale factor ``sf`` (lineitem ~6e6*sf rows)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_emb = max(int(50_000 * sf), 200)

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int64),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int64),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int64) % 5})
    segs = np.array(["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD",
                     "AUTOMOBILE"])
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust),
        "c_acctbal": _money(rng, n_cust, -999, 9999),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp),
        "s_acctbal": _money(rng, n_supp, -999, 9999)})
    adj = np.array(["cold", "small", "large", "blue", "red", "green"])
    noun = np.array(["widget", "bolt", "rod", "gear", "valve"])
    types = np.array(["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD",
                      "SMALL"])
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 5, n_part)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 200) * 0.1, 2)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 900, 400_000),
        "o_orderdate": rng.permutation(
            _ts_us(rng, n_ord, "1995-01-01", "2001-08-02").to_numpy()),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": rng.permutation(
            _ts_us(rng, n_line, "1995-01-02", "2001-11-05").to_numpy())})
    ev_types = np.array(["signup", "error", "click", "view", "purchase"])
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts_us(rng, n_ev, "2024-01-01", "2024-01-31"),
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": _money(rng, n_ev, 0.5, 50),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # isotropic unit vectors with 10 labels of equal size. Tight label
    # clusters would give most vectors the same PQ code tuple, so ADC
    # distances tie exactly and the top-k depends on float summation
    # order (the DuckDB twins then disagree with themselves run to run)
    label = rng.permutation(np.arange(n_emb) % 10)
    vec = rng.normal(0, 1, (n_emb, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": label.astype(np.int32)})
