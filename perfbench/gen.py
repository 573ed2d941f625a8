"""Seeded input generator for the benchmark.

Everything the engine sees is written here, before any timing starts:
TPC-H-shaped tables (``lineitem``, ``orders``, ``customer``), an
``events`` stream table, a ``documents`` corpus with planted near
duplicates, the CDC batch sequence of ``lake_commits`` and the request
parameters of ``serve_reads``. The same seed yields byte-identical
tables and identical parameter lists (``fingerprint`` hashes both).

Only numpy and pyarrow are used, so generation never touches Spark.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1995, 1, 1)
EVENTS_T0 = dt.datetime(2024, 1, 1)
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
FLAGS = ["A", "N", "R"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
# letters-only content words, 3-8 chars, so every Gopher rule except the
# word-count and stopword rules passes by construction
CONTENT_WORDS = (
    "agg batch big column data delta fast filter group hash join key "
    "lake line merge order part query row scan schema shard slow small "
    "sort spark stream table value vector window commit snapshot file "
    "index cache plan stage task"
).split()


@dataclass(frozen=True)
class Scale:
    """Table sizes. ``BENCH`` is what the workloads run at; ``TOY`` keeps
    the self-tests fast."""

    lineitem: int
    events: int
    documents: int
    lake_rows: int  # rows of the lake_commits base table
    lake_files: int  # files of the base table, written in LAKE_CHUNKS commits
    batch_rows: int  # mean rows per CDC batch
    read_lake_chunks: int  # versions of the serve_reads lake table


BENCH = Scale(
    lineitem=200_000, events=60_000, documents=1_500,
    lake_rows=60_000, lake_files=30, batch_rows=200, read_lake_chunks=20,
)
TOY = Scale(
    lineitem=4_000, events=2_000, documents=300,
    lake_rows=2_000, lake_files=6, batch_rows=20, read_lake_chunks=4,
)


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    start = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(micros.astype("int64") + start, type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def orders_table(rng, n: int) -> pa.Table:
    days = rng.integers(0, 2400, n) * 86_400_000_000
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, max(n // 10, 10), n)),
        "o_orderstatus": pa.array(np.array(STATUS)[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n)),
        "o_orderdate": _ts(EPOCH, days),
        "o_orderpriority": pa.array(np.array(PRIORITY)[rng.integers(0, 5, n)]),
    })


def lineitem_table(rng, n: int, n_orders: int, dup_share=0.01, bad_share=0.01) -> pa.Table:
    """``l_orderkey``/``l_linenumber`` is unique apart from a planted
    share of exact duplicate rows (for the ETL dedup step); a planted
    share of rows carries ``l_quantity`` 0 (invalid for the ETL
    validation step)."""
    base = n - int(n * dup_share)
    order = np.sort(rng.integers(0, n_orders, base))
    line = np.ones(base, dtype="int32")
    same = np.concatenate([[False], order[1:] == order[:-1]])
    # running line number within each order
    idx = np.arange(base)
    starts = np.maximum.accumulate(np.where(~same, idx, 0))
    line = (idx - starts + 1).astype("int32")
    qty = rng.integers(1, 51, base).astype("float64")
    qty[rng.random(base) < bad_share] = 0.0
    cols = {
        "l_orderkey": order.astype("int64"),
        "l_partkey": rng.integers(0, 20_000, base),
        "l_suppkey": rng.integers(0, 1_000, base),
        "l_linenumber": line,
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900, 105_000, base),
        "l_discount": rng.integers(0, 11, base) / 100.0,
        "l_tax": rng.integers(0, 9, base) / 100.0,
        "l_returnflag": np.array(FLAGS)[rng.integers(0, 3, base)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, base)],
        "l_shipdate": rng.integers(0, 2500, base) * 86_400_000_000,
    }
    dup = rng.integers(0, base, n - base)
    for k, v in cols.items():
        cols[k] = np.concatenate([v, v[dup]])
    perm = rng.permutation(n)
    out = {k: v[perm] for k, v in cols.items()}
    ship = out.pop("l_shipdate")
    t = pa.table({k: pa.array(v) for k, v in out.items()})
    return t.append_column("l_shipdate", _ts(EPOCH, ship))


def customer_table(rng, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype("int32")),
        "c_acctbal": pa.array(_money(rng, -999, 9999, n)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })


def events_table(rng, n: int) -> pa.Table:
    span = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts(EVENTS_T0, ts),
        "user_id": pa.array(rng.integers(0, 150, n)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50, n) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents_table(rng, n: int) -> pa.Table:
    """Space-separated word docs. ~15% are near copies (a few words
    swapped) of an earlier doc; ~10% are too short for Gopher's word
    count and ~5% carry no stopwords."""
    vocab = np.array(CONTENT_WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.15:
            src = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(src), max(1, len(src) // 20)):
                src[j] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(src))
            continue
        nw = int(rng.integers(20, 49)) if rng.random() < 0.10 else int(rng.integers(55, 140))
        words = vocab[rng.integers(0, len(vocab), nw)].tolist()
        if rng.random() >= 0.05:
            for j in rng.integers(0, nw, max(3, nw // 8)):
                words[j] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "de", "fr", "es", "it"])[rng.integers(0, 5, n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


# ------------------------------------------------------------ lake_commits

LAKE_COLS = ("l_id", "l_orderkey", "l_quantity", "l_extendedprice",
             "l_discount", "l_returnflag", "l_shipdate")


def lake_base(rng, n: int, n_orders: int) -> pa.Table:
    """Keyed base table of ``lake_commits``: ``n`` lineitem rows with a
    surrogate key ``l_id``."""
    t = lineitem_table(rng, n, n_orders)
    return pa.table({
        "l_id": pa.array(np.arange(n, dtype="int64")),
        **{c: t[c] for c in LAKE_COLS[1:]},
    })


# Op kinds repeat in this fixed cycle (the seed draws only their
# contents), so every run of every seed executes the same mix. Every
# kind appears within the first five commits, and a run always completes
# the first six; over the whole cycle 60% of the commits are merges.
COMMIT_CYCLE = ("merge", "delete", "update", "sql_update", "etl_append",
                "merge", "merge", "merge", "merge", "merge")
OPTIMIZE_EVERY = 5  # commits between optimize_if_needed calls
CDF_EVERY = 4  # commits between change-feed drains
# The base table is written as a create plus LAKE_CHUNKS - 1 appends, so
# the loop starts at version LAKE_CHUNKS - 1 and writes the version-10
# checkpoint within its first five commits.
LAKE_CHUNKS = 6


def _hot_keys(rng, next_key: int, live: np.ndarray, k: int) -> np.ndarray:
    """``k`` distinct live keys, 70% drawn from the newest 5% of the key
    space (recent inserts), the rest uniform."""
    recent = live[live >= next_key - max(next_key // 20, 1)]
    pick = []
    for _ in range(k):
        pool = recent if (len(recent) and rng.random() < 0.7) else live
        pick.append(int(pool[rng.integers(0, len(pool))]))
    return np.unique(np.array(pick, dtype="int64"))


def commit_sequence(rng, base_rows: int, batch_rows: int, n_ops: int, out_dir: str) -> list[dict]:
    """The seeded CDC op list. Merge and append batches are written as
    ``b<i>.parquet`` under ``out_dir`` (columns ``LAKE_COLS`` + ``_op``);
    delete/update ops carry a key list. The live key set is simulated
    here so deletes and updates always hit existing rows."""
    os.makedirs(out_dir, exist_ok=True)
    live = np.arange(base_rows, dtype="int64")
    next_key = base_rows
    ops: list[dict] = []
    for i in range(n_ops):
        kind = COMMIT_CYCLE[i % len(COMMIT_CYCLE)]
        op: dict = {"i": i, "kind": kind}
        if kind in ("merge", "etl_append"):
            n = batch_rows
            if kind == "merge":
                n_upd = n // 2
                upd = _hot_keys(rng, next_key, live, n_upd)
                n_new = n - len(upd)
            else:
                upd = np.array([], dtype="int64")
                n_new = n
            new = np.arange(next_key, next_key + n_new, dtype="int64")
            next_key += n_new
            keys = np.concatenate([upd, new])
            m = len(keys)
            flag = np.array(["U"] * m, dtype=object)
            if kind == "merge" and len(upd):
                dels = rng.random(len(upd)) < 0.2
                flag[: len(upd)][dels] = "D"
            t = pa.table({
                "l_id": pa.array(keys),
                "l_orderkey": pa.array(rng.integers(0, 50_000, m)),
                "l_quantity": pa.array(rng.integers(1, 51, m).astype("float64")),
                "l_extendedprice": pa.array(_money(rng, 900, 105_000, m)),
                "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
                "l_returnflag": pa.array(np.array(FLAGS)[rng.integers(0, 3, m)]),
                "l_shipdate": _ts(EPOCH, rng.integers(0, 2500, m) * 86_400_000_000),
                "_op": pa.array(flag.astype(str)),
            })
            if kind == "etl_append":
                t = t.drop(["_op"])
            path = os.path.join(out_dir, f"b{i:05d}.parquet")
            pq.write_table(t, path)
            op["table"] = f"b{i:05d}"
            op["bytes"] = os.path.getsize(path)
            gone = keys[flag == "D"]
            live = np.union1d(np.setdiff1d(live, gone), new)
        else:
            k = int(rng.integers(5, max(6, batch_rows // 4)))
            op["keys"] = _hot_keys(rng, next_key, live, k).tolist()
            if kind == "delete":
                live = np.setdiff1d(live, np.array(op["keys"], dtype="int64"))
            else:
                op["delta"] = int(rng.integers(1, 5))
        ops.append(op)
    return ops


# ------------------------------------------------------------ serve_reads

# Request kinds in a fixed round robin; the seed draws the parameters.
# Of the 9 reads per cycle the 3 lake reads sit in the middle of the
# latency order (collection < measurement < lake < table), so the read
# median falls inside one kind's spread rather than in a gap between two.
READ_CYCLE = ("query_table", "query_collection", "lake_version", "query_measurement", "sql",
              "lake_latest", "query_table", "query_collection", "lake_version",
              "query_measurement")


def read_requests(rng, n: int, n_lineitem: int, n_orders: int, n_events: int,
                  lake_versions: int) -> list[dict]:
    """Request parameters whose answers stay under the request limit,
    so the full answer set is deterministic and checkable."""
    reqs = []
    span_s = 30 * 86_400
    for i in range(n):
        kind = READ_CYCLE[i % len(READ_CYCLE)]
        r: dict = {"i": i, "kind": kind}
        if kind == "query_table":
            o = int(rng.integers(0, max(n_lineitem // 4 - 4, 1)))
            r["where"] = f"l_orderkey BETWEEN {o} AND {o + 3} AND l_quantity >= {int(rng.integers(1, 30))}"
            r["limit"] = 200
        elif kind == "query_collection":
            if rng.random() < 0.5:
                r["filter"] = {"o_custkey": int(rng.integers(0, max(n_orders // 10, 10)))}
            else:
                lo = float(np.round(rng.uniform(1000, 499_000), 2))
                r["filter"] = {"o_totalprice": {"$gte": lo, "$lt": lo + 300.0},
                               "o_orderstatus": {"$in": ["F", "O"]}}
            r["limit"] = 200
        elif kind == "query_measurement":
            t0 = int(rng.integers(0, span_s - 3600))
            start = EVENTS_T0 + dt.timedelta(seconds=t0)
            stop = start + dt.timedelta(seconds=int(rng.integers(300, 1200)))
            r["start"], r["stop"] = start.isoformat(), stop.isoformat()
            r["fields"] = ["user_id", "event_type", "value"]
            r["limit"] = 1000
        elif kind in ("lake_latest", "lake_version"):
            v = lake_versions - 1 if kind == "lake_latest" else int(rng.integers(0, lake_versions))
            o = int(rng.integers(0, max(n_orders - 40, 1)))
            r["version"] = None if kind == "lake_latest" else v
            r["as_of"] = v
            r["where"] = f"o_orderkey BETWEEN {o} AND {o + 39}"
            r["limit"] = 100
        else:
            d0 = int(rng.integers(0, 2000))
            r["sql"] = (
                "SELECT l_returnflag, l_linestatus, count(*) AS n, "
                "round(sum(l_quantity), 2) AS qty, round(sum(l_extendedprice), 2) AS price "
                f"FROM lineitem WHERE l_shipdate >= TIMESTAMP '{(EPOCH + dt.timedelta(days=d0)).isoformat(sep=' ')}' "
                f"AND l_shipdate < TIMESTAMP '{(EPOCH + dt.timedelta(days=d0 + int(rng.integers(30, 400)))).isoformat(sep=' ')}' "
                "GROUP BY l_returnflag, l_linestatus"
            )
        reqs.append(r)
    return reqs


# ---------------------------------------------------------------- driver

@dataclass
class Inputs:
    data_dir: str  # catalog directory: <name>.parquet per table
    batch_dir: str  # lake_commits CDC batches
    requests: list[dict]
    commits: list[dict]
    counts: dict


TABLES = ("orders", "lineitem", "customer", "events", "documents")


def generate(seed: int, out_dir: str, scale: Scale, tables=TABLES,
             n_requests: int = 0, n_commits: int = 0) -> Inputs:
    """Write the named tables (each from its own seeded stream, so a
    subset is identical to the same tables of a full set), the request
    list and the commit sequence under ``out_dir``."""
    data_dir = os.path.join(out_dir, "lake")
    batch_dir = os.path.join(out_dir, "batches")
    os.makedirs(data_dir, exist_ok=True)

    def rng(stream: int):
        return np.random.default_rng([seed, stream])

    n_orders = max(scale.lineitem // 4, 100)
    make = {
        "orders": lambda: orders_table(rng(0), n_orders),
        "lineitem": lambda: lineitem_table(rng(1), scale.lineitem, n_orders),
        "customer": lambda: customer_table(rng(2), max(n_orders // 10, 10)),
        "events": lambda: events_table(rng(3), scale.events),
        "documents": lambda: documents_table(rng(4), scale.documents),
    }
    counts = {}
    for name in tables:
        t = make[name]()
        pq.write_table(t, os.path.join(data_dir, f"{name}.parquet"), row_group_size=50_000)
        counts[name] = t.num_rows
    requests = read_requests(rng(5), n_requests, scale.lineitem, n_orders,
                             scale.events, scale.read_lake_chunks)
    commits: list[dict] = []
    if n_commits:
        base = lake_base(rng(6), scale.lake_rows, n_orders)
        pq.write_table(base, os.path.join(data_dir, "lake_base.parquet"))
        commits = commit_sequence(rng(7), scale.lake_rows, scale.batch_rows, n_commits, batch_dir)
    return Inputs(data_dir, batch_dir, requests, commits, counts)


def fingerprint(out_dir: str, inputs: Inputs) -> str:
    """Digest of every generated file's bytes plus the parameter lists."""
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(out_dir)):
        for f in sorted(files):
            path = os.path.join(root, f)
            h.update(os.path.relpath(path, out_dir).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    h.update(json.dumps([inputs.requests, inputs.commits], sort_keys=True).encode())
    return h.hexdigest()
