"""The workloads. Each has a ``setup`` (input generation and table
build) and a ``warm`` (the first ops of each kind, run on a throwaway
build), both untimed; an ``ops`` iterator for the closed-loop client; a
``verify`` that checks every executed op against DuckDB; and the layer
entry points its traced run wraps.

An op is ``(kind, fn, request)``; the loop times ``fn()``. ``verify``
marks each sample ``correct``; a failure is an exception, a
``partial``/``failed`` envelope or a mismatch.
"""

from __future__ import annotations

import itertools
import os
import statistics
import time

import pyarrow.parquet as pq

import gen
from oracle import Oracle, checksum, mongo_where, record_checksum

ENGINE = "multi_source_data_lake_with_etl_pipeline_spark"


def _engine():
    """Engine modules, imported after the runner has set the session
    environment."""
    import importlib

    names = ["catalog", "lake", "lake_sql", "queries", "api.service", "sources.registry",
             "sinks.routing", "sinks.shards", "streaming.cdf_source", "llm_ops.filters",
             "llm_ops.dedup"]
    return {n: importlib.import_module(f"{ENGINE}.{n}") for n in names}


class Workload:
    name = ""
    tables: tuple[str, ...] = ()
    #: op kinds whose latency and rate the end-to-end metrics describe
    primary: tuple[str, ...] = ()
    #: op kinds a run completes as often as each is listed, however long
    #: that takes; the warm-up runs each kind once
    must_run: tuple[str, ...] = ()

    def __init__(self, spark, seed: int, scale: gen.Scale):
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.m = _engine()

    def warm(self) -> list[tuple[str, float]]:
        """Run the first op of each ``must_run`` kind on the current
        build, which the runner then throws away, so that first-time
        class loading and compilation stay out of the timed loop.
        Returns (kind, seconds) per warm op."""
        todo = set(self.must_run)
        took: list[tuple[str, float]] = []
        for kind, fn, _req in self.ops():
            if kind in todo:
                todo.discard(kind)
                t = time.perf_counter()
                fn()
                took.append((kind, round(time.perf_counter() - t, 3)))
                if not todo:
                    break
        return took

    def oracle(self) -> Oracle:
        return Oracle(self.inputs.data_dir, list(self.tables))

    def trace_points(self) -> list[tuple[object, str, str]]:
        m = self.m
        return [
            (m["catalog"], "load_table", "catalog.load_table"),
            (m["sources.registry"], "load_table", "catalog.load_table"),
            (m["queries"], "load_table", "catalog.load_table"),
            (m["lake"].LakeTable, "load", "lake.read"),
            (m["lake"].LakeTable, "read", "lake.read"),
        ]


def lake_loaders(m):
    """A LoaderManager with a ``lake`` sink: append to the lake table
    at ``path``, creating it on first load."""
    LakeTable = m["lake"].LakeTable
    loaders = m["sinks.routing"].LoaderManager()

    def load(df, path: str) -> None:
        if os.path.exists(path):
            LakeTable.load(df.sparkSession, path).append(df)
        else:
            LakeTable.create(df.sparkSession, path, df)

    loaders.register("lake", load)
    return loaders


# ---------------------------------------------------------------- serve_reads

class ServeReads(Workload):
    """Short reads through ``DataLakeService`` and ``catalog.sql``."""

    name = "serve_reads"
    tables = ("lineitem", "orders", "events")
    primary = ("query_table", "query_collection", "query_measurement",
               "lake_latest", "lake_version")
    must_run = tuple(sorted(set(gen.READ_CYCLE)))
    n_requests = 2000

    def setup(self, rep_dir: str) -> None:
        m = self.m
        self.inputs = gen.generate(self.seed, rep_dir, self.scale, self.tables,
                                   n_requests=self.n_requests)
        d = self.inputs.data_dir
        orders = m["catalog"].load_table(self.spark, d, "orders")
        self.chunk = -(-self.inputs.counts["orders"] // self.scale.read_lake_chunks)
        self.lake_path = os.path.join(rep_dir, "orders_lake")
        LakeTable = m["lake"].LakeTable
        t = LakeTable.create(self.spark, self.lake_path,
                             orders.filter(f"o_orderkey < {self.chunk}"))
        for c in range(1, self.scale.read_lake_chunks):
            t.append(orders.filter(
                f"o_orderkey >= {c * self.chunk} AND o_orderkey < {(c + 1) * self.chunk}"))
        m["catalog"].register_views(self.spark, d, self.tables)
        self.svc = m["api.service"].DataLakeService(self.spark, d)

    def _call(self, r: dict):
        k, svc = r["kind"], self.svc
        if k == "query_table":
            return svc.query_table("lineitem", limit=r["limit"], where=r["where"])
        if k == "query_collection":
            return svc.query_collection("orders", limit=r["limit"], filter=r["filter"])
        if k == "query_measurement":
            return svc.query_measurement("events", start=r["start"], stop=r["stop"],
                                         fields=r["fields"], limit=r["limit"])
        if k in ("lake_latest", "lake_version"):
            return svc.lake_query(self.lake_path, version=r["version"],
                                  limit=r["limit"], where=r["where"])
        return [tuple(row) for row in self.m["catalog"].sql(self.spark, r["sql"]).collect()]

    def ops(self):
        for r in itertools.cycle(self.inputs.requests):
            yield r["kind"], (lambda r=r: self._call(r)), r

    def trace_points(self):
        svc = self.m["api.service"]
        return super().trace_points() + [
            (svc.DataLakeService, "query_table", "api.query_table"),
            (svc.DataLakeService, "query_collection", "api.query_collection"),
            (svc.DataLakeService, "query_measurement", "api.query_measurement"),
            (svc.DataLakeService, "lake_query", "api.lake_query"),
            (svc, "rows_to_records", "api.rows_to_records"),
            (self.m["catalog"], "sql", "catalog.sql"),
        ]

    def expected(self, o: Oracle, r: dict):
        k = r["kind"]
        if k == "query_table":
            cols = o.columns("lineitem")
            return cols, o.rows(f"SELECT * FROM lineitem WHERE {r['where']}")
        if k == "query_collection":
            cols = o.columns("orders")
            return cols, o.rows(f"SELECT * FROM orders WHERE {mongo_where(r['filter'])}")
        if k == "query_measurement":
            cols = ["ts"] + r["fields"]
            return cols, o.rows(
                f"SELECT {', '.join(cols)} FROM events WHERE ts >= TIMESTAMP '{r['start']}' "
                f"AND ts < TIMESTAMP '{r['stop']}'")
        if k in ("lake_latest", "lake_version"):
            cols = o.columns("orders")
            hi = (r["as_of"] + 1) * self.chunk
            return cols, o.rows(f"SELECT * FROM orders WHERE o_orderkey < {hi} AND {r['where']}")
        return None, o.rows(r["sql"])

    def verify(self, samples: list[dict]) -> None:
        o = self.oracle()
        try:
            for s in samples:
                if not s["ok"]:
                    continue
                cols, want = self.expected(o, s["req"])
                res = s["res"]
                if cols is None:
                    s["correct"] = checksum(res) == checksum(want)
                else:
                    s["correct"] = (res.get("status") == "success"
                                    and record_checksum(res["data"], cols) == checksum(want))
        finally:
            o.close()

    def report(self, samples, wall_s) -> dict:
        reads = [s["ms"] for s in samples if s["kind"] in self.primary]
        sql = [s["ms"] for s in samples if s["kind"] == "sql"]
        return {
            "read_p50_ms": (pct(reads, 50), "ms"),
            "read_p95_ms": (pct(reads, 95), "ms"),
            "read_samples": (len(reads), "count"),
            "sql_p50_ms": (pct(sql, 50), "ms"),
            "sql_samples": (len(sql), "count"),
            "reads_per_s": (len(samples) / wall_s, "req/s"),
        }


# ---------------------------------------------------------------- lake_commits

MERGE_CLAUSES = [
    {"when": "matched", "action": "delete", "condition": "src._op = 'D'"},
    {"when": "matched", "action": "update", "set": "all"},
    {"when": "not_matched", "action": "insert", "values": "all", "condition": "src._op <> 'D'"},
]
COMMIT_KINDS = ("merge", "etl_append", "delete", "update", "sql_update")


class LakeCommits(Workload):
    """One writer applying seeded CDC batches to a lake table."""

    name = "lake_commits"
    primary = COMMIT_KINDS
    # two merges: the first merge on a fresh table is the slower one, and
    # a run that sometimes gets a second would move the merge median
    must_run = COMMIT_KINDS + ("merge", "cdf_drain", "optimize")
    n_commits = 40

    def setup(self, rep_dir: str) -> None:
        m = self.m
        self.inputs = gen.generate(self.seed, rep_dir, self.scale, self.tables,
                                   n_commits=self.n_commits)
        d = self.inputs.data_dir
        LakeTable = m["lake"].LakeTable
        base = m["catalog"].load_table(self.spark, d, "lake_base")
        self.path = os.path.join(rep_dir, "commits_lake")
        chunk = -(-self.scale.lake_rows // gen.LAKE_CHUNKS)
        files = max(self.scale.lake_files // gen.LAKE_CHUNKS, 1)
        for c in range(gen.LAKE_CHUNKS):
            part = base.filter(f"l_id >= {c * chunk} AND l_id < {(c + 1) * chunk}").repartition(files)
            if c == 0:
                self.table = LakeTable.create(self.spark, self.path, part)
            else:
                self.table.append(part)
        self.base_version = self.table.latest_version()
        self.ck = os.path.join(rep_dir, "cdf_checkpoint")
        self.drains: list = []
        self.base_files = set(self._data_files())
        self.base_checkpoints = set(self._checkpoints())
        self.svc = m["api.service"].DataLakeService(self.spark, d, loaders=lake_loaders(self.m))

    def _where(self, op):
        return f"l_id IN ({', '.join(map(str, op['keys']))})"

    def _commit(self, op: dict):
        m, t, k = self.m, self.table, op["kind"]
        if k == "merge":
            src = m["catalog"].load_table(self.spark, self.inputs.batch_dir, op["table"])
            return t.merge_into(src, ["l_id"], MERGE_CLAUSES)
        if k == "etl_append":
            return self.svc.run_etl({
                "source_type": "parquet_table",
                "source_config": {"sf_dir": self.inputs.batch_dir, "table": op["table"]},
                "target_type": "lake", "target_config": {"path": self.path},
                "transformations": [{"name": "filter", "params": {"predicate": "l_quantity >= 1"}}],
            })
        if k == "delete":
            return t.delete(self._where(op))
        if k == "update":
            return t.update(self._where(op), {"l_quantity": f"l_quantity + {op['delta']}"})
        return m["lake_sql"].lake_sql(
            self.spark,
            f"UPDATE lt SET l_quantity = l_quantity + {op['delta']} WHERE {self._where(op)}",
            {"lt": t})

    def _drain(self):
        """One availableNow drain of the change feed past the base
        table, resuming from the checkpoint, into the driver as pandas
        frames."""
        got = []
        q = (self.m["streaming.cdf_source"].lake_cdf_stream(self.spark, self.path,
                                                            from_version=self.base_version)
             .writeStream.foreachBatch(lambda df, _bid: got.append(df.toPandas()))
             .option("checkpointLocation", self.ck).trigger(availableNow=True).start())
        try:
            q.awaitTermination()
        finally:
            q.stop()
        self.drains.extend(got)
        return {"rows": sum(len(g) for g in got)}

    def _optimize(self):
        return self.table.optimize_if_needed(small_file_bytes=24 * 1024, min_small_files=2)

    def ops(self):
        n = 0
        for op in self.inputs.commits:
            yield op["kind"], (lambda op=op: self._commit(op)), op
            n += 1
            if n % gen.CDF_EVERY == 0:
                yield "cdf_drain", (lambda: self._drain()), None
            if n % gen.OPTIMIZE_EVERY == 0:
                yield "optimize", self._optimize, None

    def trace_points(self):
        m, LT = self.m, self.m["lake"].LakeTable
        return super().trace_points() + [
            (LT, "merge_into", "lake.merge_into"),
            (LT, "append", "lake.append"),
            (LT, "delete", "lake.delete"),
            (m["api.service"].DataLakeService, "run_etl", "api.run_etl"),
            (m["api.service"], "build_plan", "pipeline.build_plan"),
            (m["sources.registry"].ExtractorRegistry, "extract", "sources.extract"),
            (m["sinks.routing"].LoaderManager, "route_and_load", "sinks.route_and_load"),
            (LT, "update", "lake.update"),
            (LT, "optimize_if_needed", "lake.optimize"),
            (m["lake_sql"], "lake_sql", "lake_sql.statement"),
            (m["streaming.cdf_source"], "lake_cdf_stream", "streaming.lake_cdf_stream"),
            (self, "_drain", "streaming.cdf_drain"),
        ]

    def verify(self, samples: list[dict]) -> list[str]:
        """Per-op row counts against a DuckDB replay of the executed
        CDC prefix; then whole-table checks. Returns failed whole-table
        checks (each counts as one failed op)."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads = 2")
        base = os.path.join(self.inputs.data_dir, "lake_base.parquet")
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{base}')")
        cols = ", ".join(gen.LAKE_COLS)
        for s in samples:
            op = s["req"]
            if op is None:
                s["correct"] = s["ok"]
                continue
            k = op["kind"]
            if k in ("merge", "etl_append"):
                b = os.path.join(self.inputs.batch_dir, op["table"] + ".parquet")
                con.execute(f"CREATE OR REPLACE TEMP VIEW b AS SELECT * FROM read_parquet('{b}')")
            if k == "merge":
                matched_d, matched_u, new = con.execute(
                    "SELECT count(*) FILTER (WHERE t.l_id IS NOT NULL AND b._op = 'D'), "
                    "count(*) FILTER (WHERE t.l_id IS NOT NULL AND b._op <> 'D'), "
                    "count(*) FILTER (WHERE t.l_id IS NULL AND b._op <> 'D') "
                    "FROM b LEFT JOIN t USING (l_id)").fetchone()
                con.execute("DELETE FROM t WHERE l_id IN (SELECT l_id FROM b)")
                con.execute(f"INSERT INTO t SELECT {cols} FROM b WHERE _op <> 'D'")
                want = {"deleted": matched_d, "updated": matched_u, "inserted": new}
            elif k == "etl_append":
                (n,) = con.execute("SELECT count(*) FROM b").fetchone()
                con.execute(f"INSERT INTO t SELECT {cols} FROM b")
                want = {"extracted_count": n}
            else:
                where = self._where(op)
                (hit,) = con.execute(f"SELECT count(*) FROM t WHERE {where}").fetchone()
                if k == "delete":
                    con.execute(f"DELETE FROM t WHERE {where}")
                    want = {"deleted": hit}
                else:
                    con.execute(f"UPDATE t SET l_quantity = l_quantity + {op['delta']} WHERE {where}")
                    want = {"updated": hit}
            res = s["res"] if s["ok"] else None
            s["correct"] = (isinstance(res, dict) and res.get("status", "success") == "success"
                            and all(int(res.get(key, -1)) == v for key, v in want.items()))
        failures = []
        final = self.table.read().toPandas()
        con.register("final_df", final)
        diff = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM t EXCEPT ALL SELECT {cols} FROM final_df)) + "
            f"(SELECT count(*) FROM (SELECT {cols} FROM final_df EXCEPT ALL SELECT {cols} FROM t))"
        ).fetchone()[0]
        if diff:
            failures.append(f"final snapshot differs from the replay in {diff} rows")
        # the change feed, drained to the end, must carry the base to the final state
        self._drain()
        import pandas as pd

        # the last change per key decides its final state (an update's
        # postimage sorts after its preimage within one version)
        ch = pd.concat(self.drains, ignore_index=True) if self.drains else final.iloc[:0].assign(
            _change_type="", _commit_version=0)
        con.register("ch", ch)
        con.execute(
            f"CREATE TABLE last AS SELECT * FROM (SELECT {cols}, _change_type, row_number() OVER ("
            "PARTITION BY l_id ORDER BY _commit_version DESC, "
            "CASE WHEN _change_type IN ('insert', 'update_postimage') THEN 1 ELSE 0 END DESC) AS rn "
            "FROM ch) WHERE rn = 1")
        con.execute(
            f"CREATE TABLE cdf_state AS SELECT {cols} FROM read_parquet('{base}') "
            "WHERE l_id NOT IN (SELECT l_id FROM last) "
            f"UNION ALL SELECT {cols} FROM last WHERE _change_type IN ('insert', 'update_postimage')")
        diff = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM cdf_state EXCEPT ALL SELECT {cols} FROM t)) + "
            f"(SELECT count(*) FROM (SELECT {cols} FROM t EXCEPT ALL SELECT {cols} FROM cdf_state))"
        ).fetchone()[0]
        if diff:
            failures.append(f"base + drained changes differs from the replay in {diff} rows")
        con.close()
        return failures

    def write_stats(self) -> dict:
        """Bytes and rows of the data files the loop added (nothing is
        vacuumed, so every file not in the base snapshot is new)."""
        hist = self.table.history()
        loop = [h for h in hist if h["version"] > self.base_version]
        added_bytes = added_rows = 0
        for p in self._data_files():
            if p not in self.base_files:
                added_bytes += os.path.getsize(p)
                added_rows += pq.read_metadata(p).num_rows
        changed = sum(int(h["metrics"].get(k, 0)) for h in loop
                      for k in ("rows_inserted", "rows_updated", "rows_deleted"))
        return {
            "added_bytes": added_bytes, "added_rows": added_rows, "rows_changed": changed,
            "files_rewritten": sum(h["removed_files"] for h in loop), "commits": len(loop),
            "versions": hist[0]["version"] + 1,
            "checkpoints": len(set(self._checkpoints()) - self.base_checkpoints),
            "log_bytes": sum(os.path.getsize(os.path.join(r, f))
                             for r, _d, fs in os.walk(os.path.join(self.path, "_log")) for f in fs),
        }

    def _checkpoints(self) -> list[str]:
        return [f for f in os.listdir(os.path.join(self.path, "_log"))
                if f.startswith("_checkpoint.") and f.endswith(".json")]

    def _data_files(self) -> list[str]:
        return [os.path.join(r, f) for r, _d, fs in os.walk(os.path.join(self.path, "data"))
                for f in fs if f.endswith(".parquet")]

    def report(self, samples, wall_s) -> dict:
        commits = [s for s in samples if s["kind"] in COMMIT_KINDS]
        drains = [s["ms"] for s in samples if s["kind"] == "cdf_drain"]
        src = sum(s["req"]["bytes"] for s in commits if "bytes" in s["req"])
        w = self.write_stats()
        return {
            "commit_p50_ms": (pct([s["ms"] for s in commits], 50), "ms"),
            "commit_p90_ms": (pct([s["ms"] for s in commits], 90), "ms"),
            "commit_samples": (len(commits), "count"),
            "commits_per_s": (len(commits) / wall_s, "commits/s"),
            "cdf_drain_p50_ms": (pct(drains, 50), "ms"),
            "cdf_drain_samples": (len(drains), "count"),
            "streaming.cdf_rows_per_drain": (
                statistics.mean(s["res"]["rows"] for s in samples
                                if s["kind"] == "cdf_drain" and s["ok"]) if drains else 0.0,
                "rows"),
            "write_amp": (w["added_bytes"] / src if src else 0.0, "ratio"),
            "lake.files_rewritten_per_commit": (w["files_rewritten"] / max(w["commits"], 1), "files"),
            "lake.rows_changed_per_row_rewritten": (w["rows_changed"] / max(w["added_rows"], 1), "ratio"),
            "lake.log_bytes": (w["log_bytes"], "bytes"),
            "lake.versions": (w["versions"], "count"),
            "lake.checkpoints_written": (w["checkpoints"], "count"),
        }


# ---------------------------------------------------------------- etl_batch

class EtlBatch(Workload):
    """One pass over a fixed list of large jobs, repeated while time
    remains. Nothing is warmed up: a batch application starts cold, and
    the first pass pays that cost on every run."""

    name = "etl_batch"
    tables = ("lineitem", "orders", "events", "documents")
    QUERIES = ("dup_overlap_by_source", "lake_bucket_point_lookup",
               "near_dup_clusters", "sensor_feed_rollup")
    ETL_TABLES = ("lineitem", "orders", "events")
    primary = (tuple(f"run_etl.{t}" for t in ETL_TABLES) + ("curation",)
               + tuple(f"query.{q}" for q in QUERIES))
    must_run = primary

    def setup(self, rep_dir: str) -> None:
        self.inputs = gen.generate(self.seed, rep_dir, self.scale, self.tables)
        self.out = os.path.join(rep_dir, "out")
        os.makedirs(self.out, exist_ok=True)
        self.svc = self.m["api.service"].DataLakeService(
            self.spark, self.inputs.data_dir, loaders=lake_loaders(self.m))
        self.n_pass = 0

    def _etl_request(self, table: str, tag: str) -> dict:
        d = self.inputs.data_dir
        src = {"sf_dir": d, "table": table}
        if table == "lineitem":
            rules = [{"field": "l_quantity", "required": True, "min": 1, "max": 50}]
            tail = [{"name": "deduplication", "params": {"key_fields": ["l_orderkey", "l_linenumber"]}},
                    {"name": "aggregation", "params": {
                        "group_by_fields": ["l_returnflag", "l_linestatus"],
                        "aggregations": {"l_quantity": ["sum"], "l_extendedprice": ["sum"]}}}]
            target = ("file", {"path": os.path.join(self.out, f"{tag}_lineitem_agg"),
                               "mode": "overwrite", "coalesce": 1})
        elif table == "orders":
            rules = [{"field": "o_totalprice", "required": True, "min": 0}]
            tail = [{"name": "deduplication", "params": {"key_fields": ["o_orderkey"]}}]
            target = ("lake", {"path": os.path.join(self.out, f"{tag}_orders_lake")})
        else:
            rules = [{"field": "value", "required": True, "min": 0.05}]
            tail = [{"name": "deduplication", "params": {"key_fields": ["event_id"]}},
                    {"name": "aggregation", "params": {
                        "group_by_fields": ["event_type"],
                        "aggregations": {"value": ["sum"], "user_id": ["max"]}}}]
            target = ("file", {"path": os.path.join(self.out, f"{tag}_events_agg"),
                               "mode": "overwrite", "coalesce": 1})
        return {
            "source_type": "parquet_table", "source_config": src,
            "target_type": target[0], "target_config": target[1],
            "transformations": ["cleaning", {"name": "validation", "params": {"rules": rules}},
                                "filter_valid", "enrichment"] + tail,
        }

    def warm(self) -> list[tuple[str, float]]:
        return []

    def _curation(self, tag: str) -> dict:
        m = self.m
        docs = m["catalog"].load_table(self.spark, self.inputs.data_dir, "documents")
        kept = m["llm_ops.filters"].gopher_flags(docs).filter("gopher_keep").select(
            "doc_id", "text", "source")
        pairs = m["llm_ops.dedup"].minhash_lsh_pairs(kept, threshold=0.5)
        pair_rows = [tuple(r) for r in pairs.select("id_1", "id_2").collect()]
        drop = self.spark.createDataFrame([(b,) for _a, b in pair_rows] or [(-1,)], "doc_id long")
        final = kept.join(drop, "doc_id", "left_anti")
        path = os.path.join(self.out, f"{tag}_shards")
        manifest = m["sinks.shards"].write_training_shards(final, path, 8, "doc_id")
        self.spark.catalog.clearCache()
        return {"pairs": pair_rows, "manifest": manifest, "path": path}

    def _query(self, name: str):
        fn = self.m["queries"].spark_queries()[name]
        rows = [tuple(r) for r in fn(self.spark, self.inputs.data_dir).collect()]
        self.spark.catalog.clearCache()
        return rows

    def _jobs(self, tag: str):
        svc = self.svc
        for t in self.ETL_TABLES:
            req = self._etl_request(t, tag)
            yield f"run_etl.{t}", (lambda req=req: svc.run_etl(req)), {"table": t, "req": req}
        yield "curation", (lambda: self._curation(tag)), {}
        for q in self.QUERIES:
            yield f"query.{q}", (lambda q=q: self._query(q)), {"query": q}

    def ops(self):
        while True:
            self.n_pass += 1
            tag = f"p{self.n_pass}"
            for kind, fn, req in self._jobs(tag):
                yield kind, fn, {**req, "pass": self.n_pass}

    def trace_points(self):
        m = self.m
        return super().trace_points() + [
            (m["api.service"].DataLakeService, "run_etl", "api.run_etl"),
            (m["api.service"], "build_plan", "pipeline.build_plan"),
            (m["sources.registry"].ExtractorRegistry, "extract", "sources.extract"),
            (m["sinks.routing"].LoaderManager, "route_and_load", "sinks.route_and_load"),
            (m["sinks.shards"], "write_training_shards", "sinks.write_training_shards"),
            (m["llm_ops.filters"], "gopher_flags", "llm_ops.gopher_flags"),
            (m["llm_ops.dedup"], "minhash_lsh_pairs", "llm_ops.minhash_lsh_pairs"),
            (m["lake"].LakeTable, "append", "lake.append"),
            (m["lake"].LakeTable, "create", "lake.create"),
        ]

    # -------------------------------------------------------------- checks
    def _expect_etl(self, o: Oracle, table: str):
        if table == "lineitem":
            return o.rows(
                "SELECT l_returnflag, l_linestatus, sum(l_quantity), round(sum(l_extendedprice), 2), count(*) "
                "FROM (SELECT DISTINCT * FROM lineitem WHERE l_quantity BETWEEN 1 AND 50) "
                "GROUP BY 1, 2")
        if table == "orders":
            return o.rows("SELECT count(*), round(sum(o_totalprice), 2) FROM "
                          "(SELECT DISTINCT * FROM orders WHERE o_totalprice >= 0)")
        return o.rows("SELECT event_type, round(sum(value), 2), max(user_id), count(*) FROM "
                      "(SELECT DISTINCT * FROM events WHERE value >= 0.05) GROUP BY 1")

    def _got_etl(self, o: Oracle, table: str, req: dict):
        p = req["target_config"]["path"]
        if table == "lineitem":
            return o.rows(f"SELECT l_returnflag, l_linestatus, l_quantity_sum, round(l_extendedprice_sum, 2), "
                          f"_record_count FROM read_parquet('{p}/*.parquet')")
        if table == "orders":  # a freshly created lake table: every data file is live
            return o.rows(f"SELECT count(*), round(sum(o_totalprice), 2) "
                          f"FROM read_parquet('{p}/data/**/*.parquet')")
        return o.rows(f"SELECT event_type, round(value_sum, 2), user_id_max, _record_count "
                      f"FROM read_parquet('{p}/*.parquet')")

    def _check_curation(self, o: Oracle, res: dict) -> bool:
        """Every reported pair is a true >= 0.5 Jaccard pair; every
        >= 0.8 pair among kept docs is reported; the shards hold exactly
        the kept docs minus one side of each pair."""
        kept = ("SELECT doc_id, text FROM documents WHERE len(string_split(text, ' ')) >= 50 AND "
                "len(list_distinct(list_filter(string_split(lower(text), ' '), x -> x IN "
                f"({', '.join(repr(w) for w in gen.STOPWORDS)})))) >= 2")
        o.con.execute(f"CREATE OR REPLACE TEMP TABLE kept AS {kept}")
        o.con.execute(
            "CREATE OR REPLACE TEMP TABLE sh AS SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s "
            "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM kept), "
            "LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)")
        o.con.execute(
            "CREATE OR REPLACE TEMP TABLE jac AS WITH n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), "
            "i AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS k FROM sh a JOIN sh b "
            "ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) "
            "SELECT id_1, id_2, k / (n1.n + n2.n - k) AS j FROM i JOIN n n1 ON n1.doc_id = id_1 "
            "JOIN n n2 ON n2.doc_id = id_2")
        got = set(res["pairs"])
        true = {(a, b): j for a, b, j in o.rows("SELECT id_1, id_2, j FROM jac WHERE j >= 0.5")}
        strong = {p for p, j in true.items() if j >= 0.8}
        if not got <= set(true) or not strong <= got:
            return False
        (n_kept,) = o.rows("SELECT count(*) FROM kept")[0]
        want_rows = n_kept - len({b for _a, b in got})
        (on_disk,) = o.rows(f"SELECT count(*) FROM read_parquet('{res['path']}/**/*.parquet')")[0]
        return res["manifest"]["total_rows"] == want_rows == on_disk

    def verify(self, samples: list[dict]) -> None:
        o = self.oracle()
        sql = self.m["queries"].oracle_queries()
        want: dict = {}
        try:
            for s in samples:
                if not s["ok"]:
                    continue
                k, req, res = s["kind"], s["req"], s["res"]
                if k.startswith("run_etl."):
                    t = req["table"]
                    if t not in want:
                        want[t] = checksum(self._expect_etl(o, t))
                    s["correct"] = (res["status"] == "success"
                                    and checksum(self._got_etl(o, t, req["req"])) == want[t])
                elif k == "curation":
                    s["correct"] = self._check_curation(o, res)
                else:
                    q = req["query"]
                    if q not in want:
                        want[q] = checksum(o.rows(sql[q]))
                    s["correct"] = checksum(res) == want[q]
        finally:
            o.close()

    def report(self, samples, wall_s) -> dict:
        passes: dict[int, list] = {}
        for s in samples:
            passes.setdefault(s["req"]["pass"], []).append(s)
        n_jobs = len(self.primary)
        full = [sum(x["ms"] for x in v) / 1000 for v in passes.values() if len(v) == n_jobs]
        etl = [s for s in samples if s["kind"].startswith("run_etl.")]
        rows = sum(self.inputs.counts[s["req"]["table"]] for s in etl)
        return {
            "batch_wall_s": (pct(full, 50), "s"),
            "batch_passes": (len(full), "count"),
            "etl_rows_per_s": (rows / (sum(s["ms"] for s in etl) / 1000) if etl else 0.0, "rows/s"),
        }


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile; 0.0 for no samples."""
    if not values:
        return 0.0
    v = sorted(values)
    pos = (len(v) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


WORKLOADS = {w.name: w for w in (ServeReads, LakeCommits, EtlBatch)}
