"""Output checks of the graft benchmark.

Query workloads: every op's first-call result against the DuckDB oracle
SQL the registry carries, run over the same parquet inputs and compared
the way tools/selfcheck.py compares (columns by name, rows sorted, floats
to 1e-9). Oracle results are cached by SQL text and input-file hash.

lake_cdc: every saved read against a latest-per-key model of the seeded
change stream, built in DuckDB apart from graft; pruned reads against the
model filtered the same way; the streamed table against DuckDB's
latest-per-user state over the feed.

Each check returns the set of round positions whose output was wrong.
"""
import glob
import hashlib
import os
import pickle

import duckdb
import numpy as np
import pandas as pd


def canon(df):
    """Columns by name, timestamps as UTC micros, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    if len(df):
        try:
            df = df.sort_values(by=list(df.columns), kind="mergesort")
        except TypeError:  # unorderable cells (lists): sort on their text
            df = df.iloc[df.astype(str).apply(tuple, axis=1).argsort(kind="mergesort")]
    return df.reset_index(drop=True)


def diff(s, d):
    """None when equal, else a one-line reason."""
    s, d = canon(s), canon(d)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"{len(s)} rows vs {len(d)}"
    for c in s.columns:
        sv, dv = s[c], d[c]
        if sv.dtype.kind == "f" or dv.dtype.kind == "f":
            sx = pd.to_numeric(sv, errors="coerce").astype(float)
            dx = pd.to_numeric(dv, errors="coerce").astype(float)
            ok = np.isclose(sx, dx, rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            ok = (sv.astype(str).fillna("<NA>") == dv.astype(str).fillna("<NA>")).to_numpy()
        if not ok.all():
            return f"column {c}: {sv[~ok].head(2).tolist()} vs {dv[~ok].head(2).tolist()}"
    return None


def read_spark(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _file_hash(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def check_queries(data_dir, out_dir, res, log, fresh, cache_dir):
    con = duckdb.connect()
    inputs = sorted(glob.glob(f"{data_dir}/*.parquet"))
    for p in inputs:
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    data_key = "".join(os.path.basename(p) + _file_hash(p) for p in inputs)
    os.makedirs(cache_dir, exist_ok=True)
    bad = set()
    for pos, name in enumerate(res["ops"]):
        sql_path = f"{out_dir}/oracle/{name}.sql"
        if not os.path.exists(sql_path):
            log(f"FAIL {name}: the registry has no oracle SQL")
            bad.add(pos)
            continue
        sql = open(sql_path).read()
        key = hashlib.sha256((sql + "\0" + data_key).encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".pkl")
        if os.path.exists(cached) and not fresh:
            with open(cached, "rb") as f:
                want = pickle.load(f)
        else:
            want = con.execute(sql).df()
            with open(cached, "wb") as f:
                pickle.dump(want, f)
        got = read_spark(f"{out_dir}/results/{name}")
        why = "no output" if got is None else diff(got, want)
        if why:
            log(f"FAIL {name}: {why}")
            bad.add(pos)
    log(f"checked {len(res['ops'])} ops against DuckDB: {len(bad)} wrong")
    return bad


def lake_model(cdc_dir):
    """SQL of the table state at each version of the CDC cycle:
    v1 base, v2 upsert, v3 delete, v4 append, v5 compaction."""
    def batch(name):
        return f"read_parquet('{cdc_dir}/{name}.parquet')"
    v1 = f"SELECT * FROM {batch('base')}"
    v2 = (f"SELECT * FROM ({v1}) WHERE o_orderkey NOT IN "
          f"(SELECT o_orderkey FROM {batch('upsert')}) UNION ALL SELECT * FROM {batch('upsert')}")
    v3 = (f"SELECT * FROM ({v2}) WHERE o_orderkey NOT IN "
          f"(SELECT o_orderkey FROM {batch('delete')})")
    v4 = f"SELECT * FROM ({v3}) UNION ALL SELECT * FROM {batch('append')}"
    return {1: v1, 2: v2, 3: v3, 4: v4, 5: v4}


def check_lake(cdc_dir, params, out_dir, res, log):
    con = duckdb.connect()
    states = lake_model(cdc_dir)
    lo, hi = params["range"].split(",")
    feed = (
        "SELECT user_id, event_id AS last_event_id, event_type AS last_type, "
        "ts AS last_ts FROM (SELECT *, row_number() OVER (PARTITION BY user_id "
        "ORDER BY ts DESC, event_id DESC) AS rn "
        f"FROM read_parquet('{cdc_dir}/feed/*.parquet')) WHERE rn = 1")

    def expected(name):
        if name == "ingest":
            return feed
        if name.startswith("tt_v"):
            return states[int(name[4:])]
        ver, kind = name[1:].split("_")
        s = states[int(ver)]
        if kind == "full":
            return s
        if kind == "point":
            return f"SELECT * FROM ({s}) WHERE o_orderkey IN ({params['point_keys']})"
        return f"SELECT * FROM ({s}) WHERE o_orderkey BETWEEN {lo} AND {hi}"

    saved = {int(p): n for p, n in res["saved_at"].items()}
    bad = set()
    for pos, name in sorted(saved.items()):
        got = read_spark(f"{out_dir}/results/{name}")
        why = "no output" if got is None else diff(got, con.execute(expected(name)).df())
        if why:
            log(f"FAIL {name}: {why}")
            bad.add(pos)
    reads = {p for p, op in enumerate(res["ops"])
             if op.startswith("read_") or op in ("time_travel", "stream_ingest")}
    for pos in sorted(reads - set(saved)):
        log(f"FAIL {res['ops'][pos]} at #{pos}: no output saved")
        bad.add(pos)
    log(f"checked {len(saved)} lake outputs against the model: {len(bad)} wrong")
    return bad
