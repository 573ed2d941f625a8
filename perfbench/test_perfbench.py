"""Self-tests of the benchmark at toy size.

    python3 -m pytest perfbench/test_perfbench.py -q

The generator and the correctness gates run without Spark; the
end-to-end checks start the benchmark as a subprocess at ``--scale
toy`` (about half a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402


def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_same_inputs(tmp_path):
    a = gen.generate(7, str(tmp_path / "a"), gen.TOY, n_requests=50, n_commits=20)
    b = gen.generate(7, str(tmp_path / "b"), gen.TOY, n_requests=50, n_commits=20)
    c = gen.generate(8, str(tmp_path / "c"), gen.TOY, n_requests=50, n_commits=20)
    fa = gen.fingerprint(str(tmp_path / "a"), a)
    assert fa == gen.fingerprint(str(tmp_path / "b"), b)
    assert fa != gen.fingerprint(str(tmp_path / "c"), c)


def test_table_subset_matches_full_set(tmp_path):
    full = gen.generate(3, str(tmp_path / "f"), gen.TOY)
    part = gen.generate(3, str(tmp_path / "p"), gen.TOY, tables=("events",))
    with open(os.path.join(full.data_dir, "events.parquet"), "rb") as f1, \
            open(os.path.join(part.data_dir, "events.parquet"), "rb") as f2:
        assert f1.read() == f2.read()


def test_every_commit_kind_falls_in_the_guaranteed_prefix():
    from workloads import COMMIT_KINDS, LakeCommits

    cycle = gen.COMMIT_CYCLE
    assert set(cycle) == set(COMMIT_KINDS)
    assert sum(k == "merge" for k in cycle) > len(cycle) / 2
    # a run always completes the first op of every kind in must_run,
    # which stays a short prefix of the cycle
    last = max(cycle.index(k) for k in COMMIT_KINDS)
    assert last < 5 and last + 1 >= gen.CDF_EVERY and last + 1 >= gen.OPTIMIZE_EVERY
    assert set(LakeCommits.must_run) == set(COMMIT_KINDS) | {"cdf_drain", "optimize"}
    assert cycle[:6].count("merge") == LakeCommits.must_run.count("merge") == 2


def test_checksum_is_order_free_and_value_sensitive():
    rows = [(1, "a", 2.5), (2, "b", None)]
    assert oracle.checksum(rows) == oracle.checksum(rows[::-1])
    assert oracle.checksum(rows) != oracle.checksum([(1, "a", 2.51), (2, "b", None)])
    assert oracle.checksum(rows) != oracle.checksum(rows[:1])


def _serve_reads_without_spark(tmp_path):
    """A ServeReads whose inputs exist but whose engine is never
    started: its answers are taken from DuckDB itself."""
    from workloads import ServeReads

    w = object.__new__(ServeReads)
    w.scale = gen.TOY
    w.inputs = gen.generate(5, str(tmp_path), gen.TOY, ServeReads.tables, n_requests=40)
    w.chunk = -(-w.inputs.counts["orders"] // gen.TOY.read_lake_chunks)
    o = w.oracle()
    samples = []
    for r in w.inputs.requests:
        cols, rows = w.expected(o, r)
        res = rows if cols is None else {
            "status": "success", "data": [dict(zip(cols, row)) for row in rows]}
        samples.append({"req": r, "res": res, "ok": True, "correct": False})
    o.close()
    return w, samples


def test_correct_answers_pass_the_gate(tmp_path):
    w, samples = _serve_reads_without_spark(tmp_path)
    w.verify(samples)
    assert all(s["correct"] for s in samples)


def test_corrupted_expected_checksum_counts_as_failure(tmp_path, monkeypatch):
    from workloads import ServeReads

    w, samples = _serve_reads_without_spark(tmp_path)
    real = ServeReads.expected

    def corrupted(self, o, r):
        cols, rows = real(self, o, r)
        if r["i"] == 0:  # one extra expected row changes the checksum
            rows = list(rows) + [rows[0] if rows else ("x",)]
        return cols, rows

    monkeypatch.setattr(ServeReads, "expected", corrupted)
    w.verify(samples)
    assert [s["correct"] for s in samples] == [False] + [True] * (len(samples) - 1)
    from run import tally

    assert tally(samples, []) == (len(samples), 1)
    assert tally(samples, ["final snapshot differs"]) == (len(samples) + 1, 2)


def test_job_attribution_by_time_window():
    ops = [{"start": 10.0, "end": 11.0}, {"start": 11.0, "end": 13.0}]
    jobs = [
        {"submissionTime": 10_100, "completionTime": 10_300, "stageIds": [0], "numTasks": 4},
        {"submissionTime": 10_200, "completionTime": 10_400, "stageIds": [1], "numTasks": 2},
        {"submissionTime": 11_500, "completionTime": 12_000, "stageIds": [2], "numTasks": 1},
        {"submissionTime": 20_000, "completionTime": 20_100, "stageIds": [3], "numTasks": 9},
    ]
    stages = {i: {"stageId": i, "attemptId": 0, "status": "COMPLETE", "inputBytes": 10,
                  "shuffleWriteBytes": 1} for i in range(4)}
    got = spans.attribute_jobs(ops, jobs, stages)
    assert got["jobs_per_op"] == [2, 1]
    assert got["busy_ms"] == pytest.approx([300.0, 500.0])
    assert got["totals"]["driver_gap_share"] == pytest.approx(1 - 800 / 3000)
    assert got["totals"]["tasks"] == 7


def test_self_time_subtracts_children():
    t = spans.Tracer()
    a = t.begin("a", op=0)
    b = t.begin("b")
    t.end(b)
    t.end(a)
    t.spans[0].update(start=0.0, end=1.0)
    t.spans[1].update(start=0.2, end=0.7)
    st = t.self_times()
    assert st["a"] == pytest.approx(0.5) and st["b"] == pytest.approx(0.5)


def _run(workload: str, trace: int, tmp_path) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--scale", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-3-trace{trace}.json")) as f:
        report = json.load(f)
    return last, report


NAMED = {
    "serve_reads": ["read_p50_ms", "read_p95_ms", "sql_p50_ms", "reads_per_s"],
    "lake_commits": ["commit_p50_ms", "commit_p90_ms", "commits_per_s", "cdf_drain_p50_ms",
                     "write_amp"],
    "etl_batch": ["batch_wall_s", "etl_rows_per_s"],
}


@pytest.mark.parametrize("workload", sorted(NAMED))
def test_every_metric_is_emitted_with_its_unit(workload, tmp_path):
    spec = _bench_json()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        last, report = _run(workload, trace, tmp_path)
        assert set(last) == {"correct", "attempted", "failed", "metrics"}
        assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in spec[key]}
        assert {k: v["unit"] for k, v in last["metrics"].items()} == want
        named = report["metrics"]
        for k in NAMED[workload] + ["setup_s", "error_rate", "peak_rss_mb"]:
            assert k in named and named[k]["unit"], k
        if trace:
            assert report["layers"]["spans"] and report["tracing_overhead"]
            assert report["batch_pass"]["named"]
        if workload == "lake_commits":
            from workloads import LakeCommits

            for kind in LakeCommits.must_run:
                assert named[f"op.{kind}.samples"]["value"] >= 1, kind
            # the loop starts below version 10 and writes its checkpoint
            assert named["lake.checkpoints_written"]["value"] >= 1
