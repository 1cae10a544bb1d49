#!/usr/bin/env python
"""Dump `.explain("formatted")` for named queries into OUT_DIR.

Usage:
    python tools/plans_dump.py plans/r14 before q_dedup_simhash q_tpch_q8 ...
    python tools/plans_dump.py plans/r14 after  q_dedup_simhash

Writes OUT_DIR/<query>_<tag>.txt (OUT_DIR relative to the repo root
unless absolute) at $SPARK_GRAFT_SF_DIR (default sf0.1): before/after
plan evidence for a performance change.

Queries that `localCheckpoint()` an intermediate truncate their final
plan at a `Scan ExistingRDD` node, so the fragment above the checkpoint
is invisible in the main dump. localCheckpoint is wrapped here to ALSO
write each pre-checkpoint fragment as OUT_DIR/<query>_<tag>_ckptfrag<N>.txt.
"""
from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

# Spark 4: pyspark.sql.DataFrame is the abstract facade; methods execute
# on the classic concrete class — patch that one.
from pyspark.sql.classic.dataframe import DataFrame

from oke_cassandra_spark_locality_demo_spark import registry
from oke_cassandra_spark_locality_demo_spark.plans.inspect import formatted_plan
from oke_cassandra_spark_locality_demo_spark.session import build_session


def main() -> None:
    if len(sys.argv) < 4:
        print("usage: plans_dump.py OUT_DIR TAG KEY [KEY ...]", file=sys.stderr)
        sys.exit(2)
    out_dir = os.path.join(_ROOT, sys.argv[1])
    tag = sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(app_name="plans-dump")
    qs = registry.all_queries()
    orig_ckpt = DataFrame.localCheckpoint
    for name in names:
        frags: list[str] = []

        def capturing_ckpt(self, *a, **kw):  # noqa: ANN001
            frags.append(formatted_plan(self))
            return orig_ckpt(self, *a, **kw)

        DataFrame.localCheckpoint = capturing_ckpt
        try:
            df = qs[name](spark, sf_dir)
        finally:
            DataFrame.localCheckpoint = orig_ckpt
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} ({tag}) at {sf_dir}\n\n")
            f.write(formatted_plan(df))
            f.write("\n")
        print(path)
        for i, frag in enumerate(frags):
            fpath = os.path.join(out_dir, f"{name}_{tag}_ckptfrag{i}.txt")
            with open(fpath, "w") as f:
                f.write(
                    f"# {name} ({tag}) pre-localCheckpoint fragment {i} "
                    f"at {sf_dir}\n# (plan of the DataFrame passed to "
                    "localCheckpoint — the part the main dump truncates "
                    "to `Scan ExistingRDD`)\n\n"
                )
                f.write(frag)
                f.write("\n")
            print(fpath)
    spark.stop()


if __name__ == "__main__":
    main()
