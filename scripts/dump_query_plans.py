#!/usr/bin/env python
"""Dump .explain("formatted") for named queries into plans/r15/.

The optimization-round evidence artifact: for each query touched this
round, commit `plans/r15/<query>_before.txt` (dumped at the pre-change
commit) and `plans/r15/<query>_after.txt` (dumped at the post-change
tree), so the judge can check plan-shape claims without running Spark.

Usage: python scripts/dump_query_plans.py SUFFIX name [name ...]
       (SUFFIX is `before` or `after`)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    assert suffix in ("before", "after"), suffix

    import __spark_entry__ as entry_mod
    from datafusion_distributed_experiment_spark import build_session
    from datafusion_distributed_experiment_spark.session import local_cpus

    cpus = local_cpus()
    spark = build_session(
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        app_name="dump-plans",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry_mod.queries()
    try:
        from datafusion_distributed_experiment_spark.operators import staged_tiers

        for _, tier in staged_tiers():
            qs.update(tier)
    except ImportError:
        pass

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r15")
    os.makedirs(out_dir, exist_ok=True)
    from datafusion_distributed_experiment_spark.plans import (
        normalize_text,
        plan_string,
    )

    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = normalize_text(plan_string(df, "formatted"))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
