"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_reads --seed 1 --seconds 8 --trace 0

Run from the repository root. One process, one closed-loop client
thread, Spark on ``local[N]`` with N = min(nproc, 4). The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Lines before it print every metric of the
workload by name and unit. A full report (and, when traced, the spans)
is written under ``.perfbench_out/``; scratch files live under
``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE = "multi_source_data_lake_with_etl_pipeline_spark"
SETUP_REPS = 2
DRIVER_MEM = "2g"

_READS = "read_p50_ms, read_p95_ms on serve_reads"
_COMMITS = "commit_p50_ms, commit_p90_ms on lake_commits"
_BATCH = "batch_wall_s on etl_batch"
_ETL = "commit_p50_ms on lake_commits (etl_append), batch_wall_s on etl_batch"
_QUERIES = ("dup_overlap_by_source", "lake_bucket_point_lookup", "near_dup_clusters",
            "sensor_feed_rollup")
# (named per-layer metric, span it is read from, unit, end-to-end metric it should move)
LAYER_METRICS = [
    ("catalog.load_table_ms", "catalog.load_table", "ms", "read_p50_ms on serve_reads"),
    ("api.query_table_ms", "api.query_table", "ms", _READS),
    ("api.query_collection_ms", "api.query_collection", "ms", _READS),
    ("api.query_measurement_ms", "api.query_measurement", "ms", _READS),
    ("api.lake_query_ms", "api.lake_query", "ms", _READS),
    ("api.rows_to_records_ms", "api.rows_to_records", "ms", _READS),
    ("catalog.sql_ms", "catalog.sql", "ms", "sql_p50_ms on serve_reads"),
    ("api.run_etl_s", "api.run_etl", "s", _ETL),
    ("lake.read_ms", "lake.read", "ms",
     "read_p95_ms on serve_reads (time travel), cdf_drain_p50_ms on lake_commits"),
    ("lake.merge_into_ms", "lake.merge_into", "ms", _COMMITS),
    ("lake.append_ms", "lake.append", "ms", _COMMITS),
    ("lake.delete_ms", "lake.delete", "ms", _COMMITS),
    ("lake.update_ms", "lake.update", "ms", _COMMITS),
    ("lake.optimize_ms", "lake.optimize", "ms", _COMMITS),
    ("lake.create_ms", "lake.create", "ms", "etl_rows_per_s on etl_batch"),
    ("lake_sql.statement_ms", "lake_sql.statement", "ms", "commit_p50_ms on lake_commits"),
    ("streaming.cdf_drain_ms", "streaming.cdf_drain", "ms", "cdf_drain_p50_ms on lake_commits"),
    ("streaming.lake_cdf_stream_ms", "streaming.lake_cdf_stream", "ms",
     "cdf_drain_p50_ms on lake_commits"),
    ("pipeline.build_plan_ms", "pipeline.build_plan", "ms", _ETL + " (small share)"),
    ("sources.extract_ms", "sources.extract", "ms", _ETL + " (small share)"),
    ("sinks.route_and_load_s", "sinks.route_and_load", "s",
     "commit_p50_ms on lake_commits (etl_append), etl_rows_per_s on etl_batch"),
    ("sinks.write_training_shards_s", "sinks.write_training_shards", "s",
     "etl_rows_per_s on etl_batch"),
    ("llm_ops.gopher_flags_ms", "llm_ops.gopher_flags", "ms", _BATCH),
    ("llm_ops.minhash_lsh_pairs_s", "llm_ops.minhash_lsh_pairs", "s", _BATCH),
    ("llm_ops.curation_s", "op.curation", "s", _BATCH),
] + [(f"queries.{q}_s", f"op.query.{q}", "s", _BATCH) for q in _QUERIES]
# layers only the batch pass reaches; their metrics join the result line
# of every traced run
BATCH_CONTRACT = ("llm_ops.curation_s", "llm_ops.minhash_lsh_pairs_s",
                  "sinks.write_training_shards_s") + tuple(f"queries.{q}_s" for q in _QUERIES)
# workload-report metrics that belong to a layer
LAYER_REPORTED = {
    "lake.files_rewritten_per_commit": "write_amp on lake_commits",
    "lake.rows_changed_per_row_rewritten": "write_amp on lake_commits",
    "lake.log_bytes": "commit_p90_ms on lake_commits",
    "lake.versions": "commit_p90_ms on lake_commits",
    "streaming.cdf_rows_per_drain": "cdf_drain_p50_ms on lake_commits",
}
# layer (span-name prefix) -> end-to-end metric its self time should move
LAYER_E2E = {
    "api": "read_p50_ms, read_p95_ms on serve_reads; " + _ETL,
    "catalog": "read_p50_ms, sql_p50_ms on serve_reads",
    "lake": "read_p95_ms on serve_reads; commit_p50_ms, commit_p90_ms on lake_commits",
    "lake_sql": "commit_p50_ms on lake_commits",
    "streaming": "cdf_drain_p50_ms on lake_commits",
    "pipeline": _ETL + " (small share)",
    "sources": _ETL + " (small share)",
    "sinks": "commit_p50_ms on lake_commits (etl_append), etl_rows_per_s on etl_batch",
    "llm_ops": _BATCH,
    "op": "the op's own p50 (benchmark glue, plus engine code below no wrapped entry point)",
}
SPARK_MAPS = {
    "spark.driver_gap_share": "commit_p50_ms on lake_commits (expected large), "
                              "batch_wall_s on etl_batch (expected small)",
}


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, help="a workload name, or 'all'")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "toy"), default="bench")
    return p.parse_args(argv)


def host_probe_s() -> float:
    """Seconds for a fixed pure-Python loop: a gauge of how fast this
    host runs right now, recorded beside the metrics (shared hosts
    drift), never used to adjust them."""
    t = time.perf_counter()
    sum(i * i for i in range(3_000_000))
    return time.perf_counter() - t


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class Session:
    """The SparkSession plus the JVM process it launched; ``close``
    stops both and waits for the JVM to exit."""

    def __init__(self, work: str):
        from pyspark import SparkContext

        from multi_source_data_lake_with_etl_pipeline_spark.session import get_spark

        java_opts = (f"-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
                     f"-Dderby.system.home={work}")
        self.spark = get_spark("perfbench", extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "200000",
            "spark.ui.retainedStages": "200000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.sql.streaming.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.proc = SparkContext._gateway.proc

    def peak_rss_mb(self) -> float:
        return _hwm_mb(os.getpid()) + _hwm_mb(self.proc.pid)

    def close(self) -> None:
        from pyspark import SparkContext

        try:
            self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
            if self.proc.stdin:
                self.proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                self.proc.wait(timeout=30)
            except Exception:
                self.proc.kill()
                self.proc.wait(timeout=30)


def loop(ops, seconds: float, must_run=(), tracer=None):
    """Closed loop: the next op starts when the previous returns. Stops
    at the deadline, but not before each kind in ``must_run`` has run as
    often as it is listed there. Returns (samples, wall seconds)."""
    samples: list[dict] = []
    todo = Counter(must_run)
    t0 = time.perf_counter()
    deadline = t0 + seconds
    for kind, fn, req in ops:
        if time.perf_counter() >= deadline and not +todo:
            break
        todo[kind] -= 1
        sid = tracer.begin(f"op.{kind}", op=len(samples)) if tracer else None
        start = time.time()
        t = time.perf_counter()
        try:
            res, ok = fn(), True
        except Exception as exc:  # a failed op is counted, not fatal
            res, ok = repr(exc), False
            print(f"op {kind} failed: {exc!r}"[:500], file=sys.stderr)
        ms = (time.perf_counter() - t) * 1000
        if tracer:
            tracer.end(sid)
        samples.append({"kind": kind, "req": req, "res": res, "ok": ok, "ms": ms,
                        "start": start, "end": time.time(), "correct": False})
    return samples, time.perf_counter() - t0


def tally(samples: list[dict], extra_failures: list[str]) -> tuple[int, int]:
    """(attempted, failed): an op fails on an exception or a wrong
    answer; each failed whole-run check counts as one more failed op."""
    for s in samples:
        s["ok"] = s["ok"] and s["correct"]
    failed = sum(not s["ok"] for s in samples) + len(extra_failures)
    return len(samples) + len(extra_failures), failed


def _as_json(metrics: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def per_kind(samples: list[dict]) -> dict:
    from workloads import pct

    out = {}
    for kind in sorted({s["kind"] for s in samples}):
        ks = [s["ms"] for s in samples if s["kind"] == kind]
        out[f"op.{kind}.p50_ms"] = (pct(ks, 50), "ms")
        out[f"op.{kind}.samples"] = (len(ks), "count")
    return out


def e2e(w, samples: list[dict], wall: float) -> dict:
    """Median and p90 latency of the workload's primary ops; the mean
    over the primary kinds of each kind's median, which weighs every
    kind alike, so how many ops of each kind a run completes does not
    move it; and primary ops per second of the loop's wall time."""
    from workloads import pct

    lat = [s["ms"] for s in samples if s["kind"] in w.primary]
    kinds = [[s["ms"] for s in samples if s["kind"] == k] for k in w.primary]
    return {
        "p50_ms": pct(lat, 50),
        "p90_ms": pct(lat, 90),
        "kind_p50_ms": statistics.mean(pct(v, 50) for v in kinds if v),
        "ops_per_s": len(lat) / wall,
    }


def layer_metrics(tracer, samples: list[dict], spark, named: dict) -> tuple[dict, dict]:
    """(the per-layer metrics of BENCHMARK.json, the full per-layer report)."""
    from spans import attribute_jobs, spark_records

    n_ops = max(len(samples), 1)
    jobs, stages = spark_records(spark)
    sp = attribute_jobs(samples, jobs, stages)["totals"]
    selfs, tots, calls = tracer.self_times(), tracer.totals(), tracer.calls
    layer_self: dict[str, float] = {}
    for name, sec in selfs.items():
        layer = name.split(".")[0]
        layer_self[layer] = layer_self.get(layer, 0.0) + sec
    lt_calls = calls.get("catalog.load_table", 0)
    contract = {
        "catalog.load_table_ms": (tots.get("catalog.load_table", 0.0) * 1000 / max(lt_calls, 1), "ms"),
        "catalog.load_table_calls": (lt_calls / n_ops, "count/op"),
        "lake.self_ms": (layer_self.get("lake", 0.0) * 1000 / n_ops, "ms/op"),
        "spark.jobs": (sp.get("jobs", 0) / n_ops, "count/op"),
        "spark.stages": (sp.get("stages", 0) / n_ops, "count/op"),
        "spark.tasks": (sp.get("tasks", 0) / n_ops, "count/op"),
        "spark.task_failures": (sp.get("task_failures", 0) / n_ops, "count/op"),
        "spark.executor_busy_ms": (sp.get("executor_busy_ms", 0.0) / n_ops, "ms/op"),
        "spark.driver_gap_share": (sp.get("driver_gap_share", 0.0), "ratio"),
        "spark.shuffle_write_bytes": (sp.get("shuffle_write_bytes", 0) / n_ops, "bytes/op"),
        "spark.input_bytes": (sp.get("input_bytes", 0) / n_ops, "bytes/op"),
    }
    out = {}
    for metric, span, unit, maps_to in LAYER_METRICS:
        if calls.get(span):
            scale = 1000 if unit == "ms" else 1
            out[metric] = {"value": tots[span] * scale / calls[span], "unit": unit,
                           "maps_to": maps_to}
    out["catalog.load_table_calls"] = {"value": lt_calls / n_ops, "unit": "count/op",
                                       "maps_to": "read_p50_ms on serve_reads"}
    for metric, maps_to in LAYER_REPORTED.items():
        if metric in named:
            out[metric] = {"value": named[metric][0], "unit": named[metric][1], "maps_to": maps_to}
    for metric, (v, unit) in contract.items():
        if metric.startswith("spark."):
            out[metric] = {"value": v, "unit": unit,
                           "maps_to": SPARK_MAPS.get(metric, "op.<kind>.p50_ms of the op kinds that run it")}
    spans_out = {
        name: {"calls": calls.get(name, 0),
               "mean_ms": tots.get(name, 0.0) * 1000 / max(calls.get(name, 0), 1),
               "self_ms_per_op": selfs.get(name, 0.0) * 1000 / n_ops}
        for name in sorted(set(tots) | set(selfs))
    }
    by_kind = {}
    for kind in sorted({s["kind"] for s in samples}):
        ks = [s for s in samples if s["kind"] == kind]
        by_kind[kind] = attribute_jobs(ks, jobs, stages)["totals"] | {"ops": len(ks)}
    report = {
        "named": out,
        "layers": {k: {"self_ms_per_op": v * 1000 / n_ops, "maps_to": LAYER_E2E.get(k, "")}
                   for k, v in sorted(layer_self.items())},
        "spans": spans_out,
        "spark_per_op_kind": by_kind,
    }
    return contract, report


def batch_pass(spark, seed: int, work: str):
    """A traced run's last step: one pass over the etl_batch job list
    at toy scale, after the timed loop, so that the layers only batch
    jobs reach (ETL file sinks, curation, shards, the registered
    queries) are timed on every workload. Returns (samples, tracer)."""
    import gen
    from spans import Tracer
    from workloads import EtlBatch

    b = EtlBatch(spark, seed, gen.TOY)
    b.setup(os.path.join(work, "batch"))
    tracer = Tracer()
    tracer.install(b.trace_points())
    try:
        samples, _wall = loop(b.ops(), 0, b.must_run, tracer)
    finally:
        tracer.uninstall()
    b.verify(samples)
    return samples, tracer


def tracing_overhead(out_dir: str, args, traced: dict) -> dict:
    """Traced minus untraced end-to-end metrics. The untraced side is
    the ``--trace 0`` report of the same seed if there is one, else the
    median over every ``--trace 0`` report of the workload."""
    import glob

    same = os.path.join(out_dir, f"{args.workload}-{args.seed}-trace0.json")
    paths = [same] if os.path.exists(same) else sorted(
        glob.glob(os.path.join(out_dir, f"{args.workload}-*-trace0.json")))
    runs = []
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        if r.get("scale") == args.scale and r.get("seconds") == args.seconds:
            runs.append(r["e2e"])
    if not runs:
        return {"note": "no --trace 0 report of this workload, scale and length to compare with"}
    out = {"untraced_runs": len(runs)}
    for k, (v, _unit) in traced.items():
        base = statistics.median(r[k]["value"] for r in runs)
        out[k] = {"traced": v, "untraced": base, "delta": v - base}
    return out


def run_all(args, names: list[str]) -> int:
    """Every workload in turn, each in its own process; prints each
    one's metric lines, then one JSON line with the summed counts and
    the metrics prefixed by workload."""
    import subprocess

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--scale", args.scale],
            capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode or not lines:
            print(out.stderr[-3000:], file=sys.stderr)
            return out.returncode or 1
        print("\n".join(lines[:-1]))
        last = json.loads(lines[-1])
        total["correct"] = total["correct"] and last["correct"]
        total["attempted"] += last["attempted"]
        total["failed"] += last["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in last["metrics"].items()})
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, ENGINE)):
        print(f"perfbench: no {ENGINE}/ package in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    import gen
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args, list(WORKLOADS))
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cpus = min(os.cpu_count() or 1, 4)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ.update({
        "TZ": "UTC", "TMPDIR": os.path.join(work, "tmp"), "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SILVER_DIR": os.path.join(work, "silver"),
        "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM, the spark-submit launcher too, keeps its files in the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    scale = gen.BENCH if args.scale == "bench" else gen.TOY
    session = None
    probe_s = host_probe_s()
    try:
        t = time.perf_counter()
        session = Session(work)
        session_s = time.perf_counter() - t
        spark = session.spark
        w = WORKLOADS[args.workload](spark, args.seed, scale)
        reps = []
        for i in range(SETUP_REPS):
            rep_dir = os.path.join(work, f"rep{i}")
            if i:
                shutil.rmtree(os.path.join(work, f"rep{i - 1}"), ignore_errors=True)
            t = time.perf_counter()
            w.setup(rep_dir)
            reps.append(time.perf_counter() - t)
            if i == 0:  # warm up on the first build; the last one is timed
                t = time.perf_counter()
                warm_ops = w.warm()
                warm_s = time.perf_counter() - t
        setup_s = session_s + warm_s + statistics.median(reps)
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer()
            tracer.install(w.trace_points())
        try:
            samples, wall = loop(w.ops(), args.seconds, w.must_run, tracer)
        finally:
            if tracer:
                tracer.uninstall()
        t = time.perf_counter()
        extra_failures = w.verify(samples) or []
        attempted, failed = tally(samples, extra_failures)
        verify_s = time.perf_counter() - t
        if tracer:
            b_samples, b_tracer = batch_pass(spark, args.seed, work)
            b_attempted, b_failed = tally(b_samples, [])
            attempted, failed = attempted + b_attempted, failed + b_failed
        for msg in extra_failures:
            print(f"check failed: {msg}", file=sys.stderr)
        run_e2e = e2e(w, samples, wall)
        metrics = {"setup_s": (setup_s, "s"), "kind_p50_ms": (run_e2e["kind_p50_ms"], "ms"),
                   "ops_per_s": (run_e2e["ops_per_s"], "1/s")}
        named = {**w.report(samples, wall), "p50_ms": (run_e2e["p50_ms"], "ms"),
                 "p90_ms": (run_e2e["p90_ms"], "ms"),
                 **per_kind(samples), "setup_s": (setup_s, "s"),
                 "session_start_s": (session_s, "s"), "warm_up_s": (warm_s, "s"),
                 "build_median_s": (statistics.median(reps), "s"),
                 "loop_s": (wall, "s"), "verify_s": (verify_s, "s"),
                 "run_wall_s": (time.perf_counter() - t_main, "s"),
                 "error_rate": (failed / attempted, "ratio"),
                 "peak_rss_mb": (session.peak_rss_mb(), "MB"), "host_probe_s": (probe_s, "s")}
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale, "nproc": os.cpu_count(),
            "local_n": cpus, "driver_memory": DRIVER_MEM,
            "pyspark": __import__("pyspark").__version__, "setup_reps_s": reps, "warm_ops_s": warm_ops,
            "attempted": attempted, "failed": failed, "check_failures": extra_failures,
            "e2e": _as_json(metrics), "metrics": _as_json(named),
        }
        out_metrics = metrics
        if tracer:
            out_metrics, report["layers"] = layer_metrics(tracer, samples, spark, named)
            b_spark, report["batch_pass"] = layer_metrics(b_tracer, b_samples, spark, {})
            report["batch_pass"]["spark"] = _as_json(b_spark)
            for k in BATCH_CONTRACT:
                m = report["batch_pass"]["named"][k]
                out_metrics[k] = (m["value"], m["unit"])
            report["per_layer"] = _as_json(out_metrics)
            report["tracing_overhead"] = tracing_overhead(out_dir, args, metrics)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(report, f, indent=1, default=str)
        print(f"# {args.workload} seed={args.seed} nproc={os.cpu_count()} local[{cpus}] "
              f"driver_memory={DRIVER_MEM} pyspark={report['pyspark']} scale={args.scale}")
        for k, (v, u) in named.items():
            print(f"{args.workload} {k} = {v:.6g} {u}")
        if tracer:
            for name, m in report["layers"]["layers"].items():
                print(f"layer {name}: self={m['self_ms_per_op']:.3f} ms/op  -> {m['maps_to']}")
            for name, m in report["layers"]["named"].items():
                print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}  -> {m['maps_to']}")
            for name, m in report["batch_pass"]["named"].items():
                print(f"batch_pass {name} = {m['value']:.6g} {m['unit']}  -> {m['maps_to']}")
            for name, sp in report["layers"]["spans"].items():
                print(f"span {name}: calls={sp['calls']} mean={sp['mean_ms']:.3f} ms "
                      f"self={sp['self_ms_per_op']:.3f} ms/op")
            print(f"tracing_overhead {json.dumps(report['tracing_overhead'])}")
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": _as_json(out_metrics),
        }))
        return 0
    finally:
        if session is not None:
            session.close()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
