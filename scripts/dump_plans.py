"""Dump .explain('formatted') for named queries to plans/<round>/.

For audit-shaped queries (lake build + read-back) the returned frame's
plan is the final aggregate over the lake read; the commit-machinery
evidence lives in job counts (scripts/profile_r10.py) — both are
committed so the round's plan claims are checkable offline.

Usage: python scripts/dump_plans.py <round> <label> [sf_dir] [name ...]
Writes plans/<round>/<name>_<label>.txt for each query (default: the
lake/analytics set below). ``sf_dir`` defaults to $SPARK_GRAFT_SF_DIR,
the dataset bench.py reads.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from multi_source_data_lake_with_etl_pipeline_spark import queries as q
from multi_source_data_lake_with_etl_pipeline_spark.session import get_spark

DEFAULT_SET = [
    "lake_merge_evolution_audit",
    "lake_partition_maintenance_audit",
    "cdc_apply_audit",
    "lake_sql_dml_audit",
    "lake_merge_clauses_audit",
    "lake_bucket_point_lookup",
    "lake_clone_divergence",
    "lake_history_ops",
    "dv_merge_parity_audit",
    "dv_delete_parity_audit",
    "mv_incremental_invariant",
    "lake_bloom_point_lookup",
    "cdf_replay_invariant",
    "zorder3_compact_scan",
    "lake_partition_evolution_audit",
    "delete_keys_purge_audit",
    "lake_update_audit",
    "small_file_compaction_audit",
    "qty_price_spearman",
    "price_mad_outliers",
    "pq_adc_invariant",
    "kmeans_assign_invariant",
    "part_coorder_triangles",
    "supplier_part_pagerank",
    "er_golden_customers",
]


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    rnd, label = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        print("no sf_dir given and SPARK_GRAFT_SF_DIR unset", file=sys.stderr)
        return 2
    names = sys.argv[4:] or DEFAULT_SET
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", rnd,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"plans-{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    all_q = q.spark_queries()
    for name in names:
        try:
            df = all_q[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # keep going; record the failure
            plan = f"PLAN-FAIL: {e}"
        with open(os.path.join(out_dir, f"{name}_{label}.txt"), "w") as f:
            f.write(plan)
        print(f"dumped {name}_{label}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
