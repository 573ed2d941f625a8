"""Expected results recomputed by DuckDB from the generated inputs.

Nothing here trusts the engine: DuckDB reads the same parquet files
the engine was given and answers each request, replays the CDC
sequence, and runs the registered queries' oracle SQL. Results are
compared as order-free checksums over canonical row renderings.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import duckdb

MOD = 1 << 64


def canon(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        return f"{v:.2f}"
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return str(v)


def checksum(rows) -> tuple[int, int]:
    """(row count, order-free sum of per-row digests)."""
    n, acc = 0, 0
    for row in rows:
        line = "|".join(canon(x) for x in row)
        acc = (acc + int.from_bytes(hashlib.blake2b(line.encode(), digest_size=8).digest(), "little")) % MOD
        n += 1
    return n, acc


def record_checksum(records: list[dict], cols: list[str]) -> tuple[int, int]:
    """Checksum of service response records (ISO strings for times)."""
    def norm(v):
        if isinstance(v, str) and len(v) >= 19 and v[4] == "-" and v[10] == "T":
            return dt.datetime.fromisoformat(v)
        return v
    return checksum([norm(r.get(c)) for c in cols] for r in records)


class Oracle:
    def __init__(self, data_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute("SET threads = 2")
        for t in tables:
            p = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def columns(self, table: str) -> list[str]:
        return [r[0] for r in self.con.execute(f"DESCRIBE {table}").fetchall()]

    def close(self) -> None:
        self.con.close()


def mongo_where(filter_doc: dict) -> str:
    """SQL for the Mongo filter subset the requests use."""
    ops = {"$eq": "=", "$gt": ">", "$gte": ">=", "$lt": "<", "$lte": "<="}
    terms = []
    for field, cond in filter_doc.items():
        if not isinstance(cond, dict):
            cond = {"$eq": cond}
        for op, val in cond.items():
            if op == "$in":
                terms.append(f"{field} IN ({', '.join(repr(v) for v in val)})")
            else:
                terms.append(f"{field} {ops[op]} {val!r}")
    return " AND ".join(terms)
