"""Find every registry key whose PHYSICAL PLAN contains an
Arrow-batched Python node, then sweep those keys under a tiny
`spark.sql.execution.arrow.maxRecordsPerBatch` and require
canonical-row equality with the default batch size.

Why this axis: on local[32] a 500-row fixture often fits in ONE Arrow
batch, so per-batch logic that should have been merged globally
(a partial top-k kept per batch, a statistic computed per batch) is
invisible — every batch IS the whole partition. On a 1000-executor
cluster reading 100 TB, batch boundaries land everywhere. Shrinking
maxRecordsPerBatch to 7 locally forces ~70 batches through the same
code and makes any batch-boundary dependence show up as a row diff.

The registry wrapper pins only session.timeZone (registry.py), so this
conf is a live environment axis the driver's host may legitimately
differ on — same argument as the shuffle-partition / scan-split sweep
in tests/test_properties.py.

tests/test_properties.py pins this probe's output (the detected key
list and the per-module Arrow call-site counts); re-run this tool and
update the pins whenever a new Arrow-batched operator lands. A key
whose build sets maxRecordsPerBatch itself would run every later key
of the 7-row pass at its own batch size, so the sweep reports such a
build as an error.

Usage:
    python tools/arrow_batch_probe.py            # detect + sweep
    python tools/arrow_batch_probe.py --detect   # detection only
"""
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))

SF_DIR = os.environ.get("SPARK_GRAFT_PROBE_SF", "/root/testdata/sf0.01")

#: Physical-plan node names that mean "Python code fed by Arrow
#: batches" — the set maxRecordsPerBatch actually influences.
#: BatchEvalPython (row-at-a-time UDF) and the UDTF exec nodes are
#: deliberately absent: they don't batch through Arrow.
PLAN_MARKERS = (
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "ArrowEvalPython",
    "AggregateInPandas",
    "WindowInPandas",
    "MapInArrow",
)

#: Keys whose Arrow-batched execution happens EAGERLY inside fn() (the
#: availableNow streaming runs through applyInPandasWithState /
#: transformWithStateInPandas) — the returned batch DataFrame's plan
#: can't show it, so plan detection must be supplemented by hand.
EAGER_ARROW_KEYS = ("q_stream_stateful", "q_stream_stateful_tws")


def _row_key(r):
    return tuple((x is None, str(x)) for x in r)


def main() -> None:
    from pyspark.sql import SparkSession

    from oke_cassandra_spark_locality_demo_spark import registry
    from tests.parity import _canon

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    detected = []
    plan_errs = []
    for name, fn in registry.all_queries().items():
        try:
            df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — a key that won't plan is a finding
            print(f"  PLAN-ERR {name}: {type(e).__name__}: {str(e)[:150]}")
            plan_errs.append(name)
            continue
        if any(m in plan for m in PLAN_MARKERS):
            detected.append(name)
    print(f"[detect @ {SF_DIR}] {len(detected)} arrow-batched keys "
          f"in {time.time() - t0:.0f}s"
          + (f"; PLAN-ERRS: {' '.join(plan_errs)}" if plan_errs else ""))
    print("  " + " ".join(detected))
    if "--detect" in sys.argv:
        # a key that won't plan is broken, not invariant (ADVICE r9)
        sys.exit(1 if plan_errs else 0)

    keys = detected + [k for k in EAGER_ARROW_KEYS if k not in detected]
    t0 = time.time()
    diffs = []
    sweep_errs = []
    for name in keys:
        fn = registry.get(name).fn
        out = []
        errored = False
        for batch in ("10000", "7"):
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", batch
            )
            try:
                df = fn(spark, SF_DIR)
                conf = spark.conf.get(
                    "spark.sql.execution.arrow.maxRecordsPerBatch"
                )
                if conf != batch:
                    raise RuntimeError(f"build set maxRecordsPerBatch={conf}")
                rows = sorted(
                    (tuple(_canon(v) for v in r) for r in df.collect()),
                    key=_row_key,
                )
            except Exception as e:  # noqa: BLE001
                rows = [("ERR", type(e).__name__, str(e)[:200])]
                errored = True
            out.append(rows)
        same = out[0] == out[1]
        # two identical tracebacks compare equal but prove nothing
        # about batch-size invariance — an errored key is a failure in
        # its own right, never an 'ok' (ADVICE r9)
        status = "ERR " if errored else ("ok  " if same else "DIFF")
        print(f"  {status}{name}")
        if errored:
            sweep_errs.append(name)
        elif not same:
            diffs.append(name)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    bad = diffs + sweep_errs + plan_errs
    print(f"[sweep] {len(keys) - len(diffs) - len(sweep_errs)}/{len(keys)} "
          f"batch-size-invariant in {time.time() - t0:.0f}s"
          + (f"; DIFFS: {' '.join(diffs)}" if diffs else "")
          + (f"; ERRS: {' '.join(sweep_errs + plan_errs)}"
             if sweep_errs or plan_errs else ""))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
