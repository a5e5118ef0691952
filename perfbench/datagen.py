"""Seeded change stream of the `lake_cdc` workload.

Writes a base `orders` slice, one upsert batch, a delete key set, an
append batch, an events feed split into micro-batch files, and the keys
of the pruned reads. Rows have the schemas and value domains of the
harness `orders` and `events` tables. The same seed gives byte-identical
files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EPOCH = np.datetime64("1970-01-01T00:00:00", "us")

BASE_ROWS = 4000     # orders rows in the base commit
UPSERT_ROWS = 400    # rows of the upsert batch: 75% updates, 25% inserts
DELETE_KEYS = 200    # live keys tombstoned by the delete commit
APPEND_ROWS = 400    # fresh keys appended after the delete
FEED_EVENTS = 2000   # events in the streaming feed
FEED_BATCHES = 2     # micro-batch files the feed is split into
FEED_USERS = 150
POINT_KEYS = 3       # keys of the bloom point read
RANGE_WIDTH = 200    # keys of the stats range read


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _orders_rows(rng, keys):
    n = len(keys)
    lo = (np.datetime64("1995-01-01", "D") - EPOCH.astype("datetime64[D]")).astype(int)
    hi = (np.datetime64("2001-08-01", "D") - EPOCH.astype("datetime64[D]")).astype(int)
    days = rng.integers(lo, hi + 1, n).astype("int64")
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 3000, n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": pa.array(days * 86_400_000_000, pa.int64()).cast(pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)]})


def _events(rng, n, users):
    """`n` events in ascending time over 30 days from 2024-01-01, with the
    UTC timestamps a stream source needs."""
    base = (np.datetime64("2024-01-01T00:00:00", "us") - EPOCH).astype("int64")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(base + offs, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n)]})


def write_cdc(seed, out_dir):
    """Write base.parquet, upsert.parquet, delete.parquet (key column
    only), append.parquet, feed/<i>.parquet (micro-batch files with
    ascending mtimes) and params.properties (the point-read keys and the
    range bounds). The upsert mixes updates of live keys with inserts.
    Returns the params.
    """
    os.makedirs(os.path.join(out_dir, "feed"), exist_ok=True)
    rng = np.random.default_rng(seed + 7919)
    live = np.arange(BASE_ROWS)
    _write(_orders_rows(rng, live), os.path.join(out_dir, "base.parquet"))
    upd = rng.choice(live, size=UPSERT_ROWS * 3 // 4, replace=False)
    ins = np.arange(BASE_ROWS, BASE_ROWS + UPSERT_ROWS - len(upd))
    live = np.concatenate([live, ins])
    _write(_orders_rows(rng, np.concatenate([upd, ins])),
           os.path.join(out_dir, "upsert.parquet"))
    dels = np.sort(rng.choice(live, size=DELETE_KEYS, replace=False))
    _write(pa.table({"o_orderkey": pa.array(dels, pa.int64())}),
           os.path.join(out_dir, "delete.parquet"))
    next_key = BASE_ROWS + len(ins)
    _write(_orders_rows(rng, np.arange(next_key, next_key + APPEND_ROWS)),
           os.path.join(out_dir, "append.parquet"))
    feed = _events(rng, FEED_EVENTS, FEED_USERS)
    per = FEED_EVENTS // FEED_BATCHES
    mtime = 1_700_000_000
    for i in range(FEED_BATCHES):
        f = os.path.join(out_dir, "feed", f"{i}.parquet")
        _write(feed.slice(i * per, per), f)
        os.utime(f, (mtime + 2 * i, mtime + 2 * i))
    key_space = next_key + APPEND_ROWS
    points = sorted(int(k) for k in rng.choice(key_space, POINT_KEYS, replace=False))
    lo = int(rng.integers(0, key_space - RANGE_WIDTH))
    params = {"point_keys": ",".join(map(str, points)),
              "range": f"{lo},{lo + RANGE_WIDTH - 1}"}
    with open(os.path.join(out_dir, "params.properties"), "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in params.items())
    return params
