"""Synthesize a larger scale factor from sf0.1 for SCALING EVIDENCE
(r14; VERDICT r13 item 7) — NOT a bench input and NOT oracle data: the
driver's sf dirs are read-only and its bench stays at sf0.1. This
builds /tmp data for a one-off 8-vs-32-core headline run at ~sf1 so the
0.78–1.47 core-scaling ratios measured at sf0.1 can be attributed to
per-query fixed cost (expected) rather than a hidden serial stage.

Method: N disjoint replicas of the sf0.1 universe — every key column
that identifies a replicated row (and every FK to one) is offset by
replica*OFFSET, so joins keep exactly their selectivity and per-key row
counts; distributions scale linearly. Dimension leaves (nation, region)
are shared. Deterministic: no randomness anywhere.

Usage: python scripts/make_scale_data.py [N] [out_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from end_to_end_azure_databricks_data_engineering_project_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
OFFSET = 10_000_000  # far above every sf0.1 key

# key columns to offset per table (identity keys + FKs to replicated tables)
KEYED = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
}
SHARED = ["nation", "region"]


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfscale"
    spark = get_spark("make_scale_data")
    os.makedirs(out, exist_ok=True)
    for t in SHARED:
        spark.read.parquet(f"{SRC}/{t}.parquet").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{out}/{t}.parquet")
    for t, keys in KEYED.items():
        base = spark.read.parquet(f"{SRC}/{t}.parquet")
        reps = base.crossJoin(
            spark.range(n).select(F.col("id").alias("__rep"))
        )
        for k in keys:
            dt = dict(base.dtypes)[k]
            reps = reps.withColumn(
                k, (F.col(k) + F.col("__rep") * OFFSET).cast(dt)
            )
        # 64 output files per table: a 1-2 file layout caps scan
        # parallelism at 1-2 tasks and makes any core-count comparison
        # meaningless (keyed repartition — deterministic content)
        reps.drop("__rep").repartition(64, keys[0]).write.mode(
            "overwrite"
        ).parquet(f"{out}/{t}.parquet")
        print(t, "done")
    print(f"wrote {n}x sf0.1 -> {out}")


if __name__ == "__main__":
    main()
