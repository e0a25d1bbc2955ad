"""Output checks of the benchmark, all with DuckDB over the run's own
files.

Batch: every query's warm-up output against its DuckDB oracle over the
same fixture parquet (rows, dtypes, order-insensitive values, floats to a
relative 1e-9), and every timed execution's row count against the
oracle's. Oracle answers are cached under the hash of the oracle SQL and
of the fixture tables it names.

Stream: the DWS store against its batch twin over the on-time page
events, late events against the rows the watermark dropped, every
published event exactly once in the DWD directories, and the DIM store
against latest-per-key of snapshot + changelog.
"""
import glob
import hashlib
import os
import re

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon_type(t):
    """Dtype label for the parity check: widths and int-vs-float must
    match; only representation aliases collapse."""
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "utf8"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_dictionary(t):
        return canon_type(t.value_type)
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_type(t.value_type)}>"
    return str(t)


def _sorted(con, tbl):
    """The table's rows in one canonical order, columns by name."""
    cols = sorted(tbl.schema.names)
    con.register("_t", tbl)
    q = ", ".join(f'"{c}"' for c in cols)
    out = con.sql(f"SELECT {q} FROM _t ORDER BY {q}").arrow()
    con.unregister("_t")
    return out


def compare(con, spark_tbl, ora_tbl):
    """None when equal (order-insensitive, floats to a relative 1e-9),
    else a one-line reason."""
    s = {f.name: canon_type(f.type) for f in spark_tbl.schema}
    o = {f.name: canon_type(f.type) for f in ora_tbl.schema}
    if sorted(s) != sorted(o):
        return f"columns {sorted(s)} vs oracle {sorted(o)}"
    bad = [c for c in s if s[c] != o[c]]
    if bad:
        return "dtype " + ", ".join(f"{c}: {s[c]} vs {o[c]}" for c in bad)
    if spark_tbl.num_rows != ora_tbl.num_rows:
        return f"rows {spark_tbl.num_rows} vs oracle {ora_tbl.num_rows}"
    a, b = _sorted(con, spark_tbl), _sorted(con, ora_tbl)
    for c in a.schema.names:
        x, y = a.column(c), b.column(c)
        if pa.types.is_floating(x.type):
            xv = x.to_numpy(zero_copy_only=False)
            yv = y.to_numpy(zero_copy_only=False)
            if not np.allclose(np.nan_to_num(xv, nan=-9e99),
                               np.nan_to_num(yv, nan=-9e99),
                               rtol=1e-9, atol=1e-12):
                return f"values differ in {c}"
        elif not x.equals(y.cast(x.type)):
            return f"values differ in {c}"
    return None


def file_hash(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def oracle(con, cache_dir, fx_dir, name, sql):
    """Oracle answer for one query, cached as parquet under the hash of its
    SQL and of the fixture tables it names."""
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        if re.search(rf"\b{t}\b", sql):
            h.update(file_hash(os.path.join(fx_dir, f"{t}.parquet")).encode())
    path = os.path.join(cache_dir, f"{name}-{h.hexdigest()[:20]}.parquet")
    if os.path.exists(path):
        return con.sql(f"SELECT * FROM read_parquet('{path}')").arrow()
    tbl = con.sql(sql).arrow()
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)
    return tbl


def check_batch(rec, fx_dir, cache_root):
    """Returns (per-query verdicts, expected row counts)."""
    os.makedirs(cache_root, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fx_dir}/{t}.parquet'")
    out_dir = os.path.join(os.path.dirname(rec["_path"]), "outputs")
    verdicts, expected = {}, {}
    for w in rec["warmup"]:
        name = w["name"]
        sql = rec["oracle_sql"].get(name)
        if w["error"]:
            verdicts[name] = "FAIL error: " + w["error"][:200]
            continue
        if sql is None:
            verdicts[name] = "FAIL no oracle"
            continue
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        try:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})").arrow()
            want = oracle(con, cache_root, fx_dir, name, sql)
        except Exception as e:  # noqa: BLE001 - reported as a failure
            verdicts[name] = f"FAIL {type(e).__name__}: {str(e)[:200]}"
            continue
        expected[name] = want.num_rows
        why = compare(con, got, want)
        verdicts[name] = "PASS" if why is None else "FAIL " + why
    return verdicts, expected


def _store_glob(d):
    return os.path.join(d, "**", "*.parquet")


def check_stream(rec, snapshot_path):
    """Returns (verdicts, failed event count, late page events)."""
    dirs = rec["dirs"]
    con = duckdb.connect()
    con.sql(f"""CREATE VIEW ods AS SELECT * FROM
        read_parquet('{dirs['ods']}/ods_*.parquet')""")
    verdicts, failed = {}, 0

    # every published event exactly once in its DWD fact (display rows:
    # k % 3 + 1 per purchase)
    facts = {"page": "view", "start": "signup", "err": "error",
             "action": "click"}
    for fact, etype in facts.items():
        con.sql(f"""CREATE OR REPLACE VIEW f AS SELECT event_id FROM
            read_parquet('{dirs['dwd']}/{fact}/batch_*/*.parquet')""")
        bad = con.sql(f"""
            WITH want AS (SELECT event_id, 1 AS n FROM ods
                          WHERE event_type = '{etype}'),
                 got AS (SELECT event_id, count(*) AS n FROM f GROUP BY 1)
            SELECT count(*) FROM want FULL JOIN got USING (event_id)
            WHERE want.n IS DISTINCT FROM got.n""").fetchone()[0]
        verdicts[f"dwd.{fact}"] = "PASS" if bad == 0 else f"FAIL {bad} events"
        failed += bad
    con.sql(f"""CREATE OR REPLACE VIEW f AS SELECT event_id FROM
        read_parquet('{dirs['dwd']}/display/batch_*/*.parquet')""")
    bad = con.sql("""
        WITH want AS (SELECT event_id,
                        CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 + 1 AS n
                      FROM ods WHERE event_type = 'purchase'),
             got AS (SELECT event_id, count(*) AS n FROM f GROUP BY 1)
        SELECT count(*) FROM want FULL JOIN got USING (event_id)
        WHERE want.n IS DISTINCT FROM got.n""").fetchone()[0]
    verdicts["dwd.display"] = "PASS" if bad == 0 else f"FAIL {bad} events"
    failed += bad

    # DWS serving store == batch twin of the windowed count over on-time
    # page events; an event in a wrong window counts as failed
    con.sql(f"""CREATE OR REPLACE VIEW dws AS SELECT stt, edt, view_count
        FROM read_parquet('{_store_glob(dirs['dws'])}', hive_partitioning = true)""")
    con.sql("""CREATE OR REPLACE VIEW twin AS
        SELECT strftime(time_bucket(INTERVAL 10 SECOND, ts), '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(time_bucket(INTERVAL 10 SECOND, ts) + INTERVAL 10 SECOND,
                        '%Y-%m-%d %H:%M:%S') AS edt,
               count(*) AS view_count
        FROM ods WHERE event_type = 'view' AND NOT late GROUP BY 1, 2""")
    bad_rows, bad_events = con.sql("""
        SELECT count(*), coalesce(sum(greatest(coalesce(t.view_count, 0),
                                               coalesce(d.view_count, 0))), 0)
        FROM twin t FULL JOIN dws d USING (stt)
        WHERE t.view_count IS DISTINCT FROM d.view_count
           OR t.edt IS DISTINCT FROM d.edt""").fetchone()
    verdicts["dws.store_eq_twin"] = ("PASS" if bad_rows == 0 else
                                     f"FAIL {bad_rows} windows")
    failed += int(bad_events)

    # every late page event dropped by the watermark: one pre-aggregated
    # row each, since each late event sits in its own window
    late_pages = con.sql("""SELECT count(*) FROM ods
        WHERE event_type = 'view' AND late""").fetchone()[0]
    dropped = sum(p["dropped_late"] or 0 for p in rec["progress"]
                  if p["query"] == "dws")
    verdicts["dws.late_dropped"] = ("PASS" if dropped == late_pages else
                                    f"FAIL dropped {dropped} of {late_pages}")
    failed += abs(late_pages - dropped)

    # DIM store == latest per key of snapshot + changelog, deletes applied
    con.sql(f"""CREATE OR REPLACE VIEW dim AS SELECT d_key, d_name, d_value, d_seq
        FROM read_parquet('{_store_glob(dirs['dim'])}', hive_partitioning = true)""")
    chg = glob.glob(os.path.join(dirs["chg"], "chg_*.parquet"))
    chg_sql = (f"UNION ALL SELECT d_key, d_name, d_value, d_seq, op FROM "
               f"read_parquet({chg!r})" if chg else "")
    bad = con.sql(f"""
        WITH allrows AS (
            SELECT d_key, d_name, d_value, d_seq, 'r' AS op
            FROM read_parquet('{snapshot_path}') {chg_sql}),
        latest AS (SELECT * FROM allrows
                   QUALIFY row_number() OVER (PARTITION BY d_key
                                              ORDER BY d_seq DESC) = 1),
        want AS (SELECT d_key, d_name, d_value, d_seq FROM latest WHERE op <> 'd')
        SELECT count(*) FROM want w FULL JOIN dim d USING (d_key)
        WHERE w.d_seq IS DISTINCT FROM d.d_seq
           OR w.d_name IS DISTINCT FROM d.d_name
           OR w.d_value IS DISTINCT FROM d.d_value""").fetchone()[0]
    verdicts["dim.store_eq_latest"] = "PASS" if bad == 0 else f"FAIL {bad} keys"
    failed += bad
    if not rec.get("drained", False):
        verdicts["drain"] = "FAIL events still in flight at the drain timeout"
    return verdicts, failed, late_pages
