"""Driver-side plan-CONSTRUCTION cost of the merge kernel (guide §1).

Times how long the DRIVER spends building (analyzing, not executing)
the merge_cdc plan per call — the per-epoch cost the streaming drives
pay 20× per bench run on top of execution. No action is ever run, so
the numbers isolate py4j round-trips + Catalyst analysis.

Usage: python tests/merge_planbuild_profile.py [n_iters] [n_cols]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from canal_phoenix_adapter_spark.operators.merge import (  # noqa: E402
    collapse_changes,
    merge_cdc,
    touched_keys,
)
from canal_phoenix_adapter_spark.session import get_spark  # noqa: E402


def main() -> None:
    n_iters = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    n_cols = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("merge-planbuild-profile")
    cols = [F.lit(i).alias(f"c{i}") for i in range(n_cols)]
    changes = spark.range(10).select(
        F.col("id"),
        F.lit("INSERT").alias("op"),
        F.col("id").alias("seq"),
        F.lit(None).cast("long").alias("old_id"),
        *cols,
    )
    state = spark.range(10).select(F.col("id"), *cols)

    def bench(label, fn):
        fn()  # warm (parser/analyzer classloading)
        t0 = time.perf_counter()
        for _ in range(n_iters):
            fn()
        dt = (time.perf_counter() - t0) / n_iters
        print(f"{label:28s} {dt * 1000:8.1f} ms/call")

    bench("collapse_changes", lambda: collapse_changes(changes, ["id"]))
    bench("touched_keys", lambda: touched_keys(changes, ["id"]))
    bench(
        "merge_cdc (no truncate scan)",
        lambda: merge_cdc(state, changes, ["id"], trunc_seq=None),
    )


if __name__ == "__main__":
    main()
