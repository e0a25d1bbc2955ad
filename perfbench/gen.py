#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Two modes:

  gen.py fixtures <out_dir> <seed> <sf>
      Writes the ten fixture tables (region ... embeddings) as one parquet
      file each, with the schemas `graft.core.Tables.schemas` declares.
      The same (seed, sf) always gives byte-identical files.

  gen.py stream <ods_dir> <dim_dir> <log_path> <seed> <sf> <schedule> <id0>
                <grid_s>
      The open-loop source of the stream workload: one process that
      publishes ODS event files (atomic rename) on a fixed schedule that
      does not slow down when the engine does. The schedule starts on the
      engine's DWD trigger grid (epoch multiples of `grid_s`), so every
      file lands at the same place between two triggers in every run.
      `schedule` is a JSON list of
      {"rung": name, "eps": rate, "seconds": length}. Rows follow the
      fixture `events` table's columns and distributions, and are stamped
      with their due time (`created_us`). A fixed share of events is late: their event time
      lies far behind the watermark, each in its own 10 s window. DIM
      changelog files are published at one fixed low rate throughout.
      Every published file is logged (one JSON line each) to `log_path`,
      after a line with the time the generator was ready and its t0.
      Event ids start at `id0`, so separate invocations never collide.
"""
import json
import math
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
COLORS = "red blue green small big dark light pale".split()
NOUNS = "ring widget anvil bolt gear spring valve lever".split()
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])

# Stream-source constants (see README.md, "stream_dwd_dws").
FILE_INTERVAL_S = 0.25   # one ODS file per quarter second
LATE_SHARE = 0.01        # share of events published late
LATE_BASE_US = 1_600_000_000 * 1_000_000  # 2020-09-13: far behind any watermark
DIM_INTERVAL_S = 8.0     # one DIM changelog file every 8 s, on every rung
DIM_FIRST_S = 1.0        # the first one 1 s in, so a short warm-up has one
DIM_ROWS = 40            # changes per DIM changelog file
DIM_KEYS = 500           # key space of the DIM table
# the schedule starts this far past a trigger-grid point: every file is
# then due 0.15 s after one grid point or 0.10 s before the next, clear of
# the trigger's directory listing on both sides
GRID_OFFSET_S = 0.15


def _ts_us(start, end, n, rng):
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    return rng.integers(lo, hi, n)


def _days(start, end, n, rng):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * 86_400_000_000


def _ts(col):
    return pa.array(col, pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def fixtures(out, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(_days("1995-01-01", "2001-08-01", n_ord, rng)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    partkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey]
                                    * rng.uniform(0.99, 1.01, n_line), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_days("1995-01-02", "2001-11-04", n_line, rng))})
    _write(out, "events", event_columns(
        rng, np.arange(n_ev, dtype=np.int64),
        np.sort(_ts_us("2024-01-01", "2024-01-31", n_ev, rng)), n_users))

    # the text and vector corpora come in five seeded variants (seed mod
    # 5): their DuckDB oracles are the expensive ones, and this bounds how
    # often a checkout has to compute them
    rng = np.random.default_rng(1_000_003 + seed % 5)
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 20 and r < 0.0016:            # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        elif i > 20 and r < 0.05:            # near duplicate
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(
                VOCAB[j] for j in rng.integers(0, len(VOCAB),
                                               rng.integers(10, 101))))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_docs,
                           p=[0.41, 0.145, 0.15, 0.145, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    pq.write_table(dim_snapshot(), os.path.join(out, "dim_snapshot.parquet"))


def event_columns(rng, ids, ts_us, n_users):
    n = len(ids)
    return {
        "event_id": ids,
        "ts": _ts(ts_us),
        "user_id": rng.integers(0, n_users, n),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}


def publish(table, final_dir, name):
    """Write then rename: the engine's file source never sees a partial
    file. The leading dot keeps the staging file out of Spark listings."""
    tmp = os.path.join(final_dir, f".{name}.tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, os.path.join(final_dir, name))
    return os.path.getsize(os.path.join(final_dir, name))


def dim_changes(rng, seq0, n):
    keys = rng.integers(0, DIM_KEYS, n)
    return pa.table({
        "d_key": keys.astype(np.int64),
        "d_name": [f"dim_{k}_{s}" for k, s in zip(keys, range(seq0, seq0 + n))],
        "d_value": np.round(rng.uniform(0.0, 1000.0, n), 2),
        "d_seq": np.arange(seq0, seq0 + n, dtype=np.int64),
        "op": np.where(rng.random(n) < 0.1, "d", "u")})


def dim_snapshot():
    keys = np.arange(DIM_KEYS, dtype=np.int64)
    return pa.table({
        "d_key": keys,
        "d_name": [f"dim_{k}_init" for k in keys],
        "d_value": np.round(keys * 1.5, 2),
        "d_seq": np.zeros(DIM_KEYS, dtype=np.int64)})


def stream(ods, dim, log_path, seed, sf, schedule, first_id, grid_s):
    """Open loop: file i is due at t0 + (i+1) * FILE_INTERVAL_S and holds
    the events due in its interval; a late generator catches up without
    skipping or thinning any file, and reports how late it ran. t0 lies
    GRID_OFFSET_S past the next multiple of grid_s."""
    rng = np.random.default_rng(seed + 7919)
    n_users = max(150, int(15_000 * sf))
    os.makedirs(ods, exist_ok=True)
    os.makedirs(dim, exist_ok=True)
    log = open(log_path, "a", buffering=1)
    next_id, file_no, dim_no = first_id, 0, 0
    # names and DIM sequence numbers carry id0: a later invocation never
    # reuses a file name the engine has seen or a sequence number
    dim_seq = first_id + 1
    late_seq = first_id // 100
    ready = time.time()
    t0 = math.ceil(ready / grid_s) * grid_s + GRID_OFFSET_S
    log.write(json.dumps({"kind": "start", "id0": first_id, "ready": ready,
                          "t0": t0}) + "\n")
    offset = 0.0
    next_dim = DIM_FIRST_S
    for rung in schedule:
        n_files = max(1, int(round(rung["seconds"] / FILE_INTERVAL_S)))
        per_file = rung["eps"] * FILE_INTERVAL_S
        for f in range(n_files):
            due = t0 + offset + (f + 1) * FILE_INTERVAL_S
            while next_dim <= offset + (f + 1) * FILE_INTERVAL_S:
                dim_due = t0 + next_dim
                _sleep_until(dim_due)
                tbl = dim_changes(rng, dim_seq, DIM_ROWS)
                name = f"chg_{first_id:012d}_{dim_no:06d}.parquet"
                size = publish(tbl, dim, name)
                log.write(json.dumps({
                    "kind": "dim", "name": name, "due": dim_due,
                    "published": time.time(), "rows": DIM_ROWS,
                    "bytes": size}) + "\n")
                dim_seq += DIM_ROWS
                dim_no += 1
                next_dim += DIM_INTERVAL_S
            _sleep_until(due)
            # whole events per file: carry the fractional part forward
            n = int((f + 1) * per_file) - int(f * per_file)
            if n <= 0:
                continue
            start = due - FILE_INTERVAL_S
            created = (start + (np.arange(n) + 1) * (FILE_INTERVAL_S / n))
            created_us = (created * 1e6).astype(np.int64)
            # the warm-up rung runs before any watermark exists: no late rows
            late = rng.random(n) < (0.0 if rung["rung"] == "warm" else LATE_SHARE)
            ts_us = created_us.copy()
            n_late = int(late.sum())
            # each late event in its own old 10 s window, so the stateful
            # operator drops exactly one pre-aggregated row per late event
            ts_us[late] = LATE_BASE_US + (late_seq + np.arange(n_late)) * 10_000_000
            late_seq += n_late
            ids = np.arange(next_id, next_id + n, dtype=np.int64)
            next_id += n
            cols = event_columns(rng, ids, ts_us, n_users)
            cols["created_us"] = created_us
            cols["late"] = late
            name = f"ods_{first_id:012d}_{file_no:07d}.parquet"
            size = publish(pa.table(cols), ods, name)
            pub = time.time()
            log.write(json.dumps({
                "kind": "ods", "name": name, "rung": rung["rung"],
                "due": due, "published": pub, "rows": n,
                "pages": int((cols["event_type"] == "view").sum()),
                "late": n_late, "first_id": int(ids[0]),
                "bytes": size}) + "\n")
            file_no += 1
        offset += n_files * FILE_INTERVAL_S
    log.close()


def _sleep_until(t):
    d = t - time.time()
    if d > 0:
        time.sleep(d)


def main(argv):
    if len(argv) >= 4 and argv[0] == "fixtures":
        fixtures(argv[1], int(argv[2]), float(argv[3]))
    elif len(argv) >= 9 and argv[0] == "stream":
        stream(argv[1], argv[2], argv[3], int(argv[4]), float(argv[5]),
               json.loads(argv[6]), int(argv[7]), float(argv[8]))
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
