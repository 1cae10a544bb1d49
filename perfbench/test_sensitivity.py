"""Sensitivity self-check of the benchmark's run_s gate.

An injected x1.5 slowdown of one warehouse aggregate key (a sleep of half
that key's time in the unchanged run on the same seed, added to its
build) must raise the median ``run_s`` past the bound ``BENCHMARK.json``
gives it, while the unchanged runs stay within that bound of each other.
The gate sees a slowdown only once it adds more than the bound's share of
``run_s``, so whether x1.5 of one key crosses it depends on that key's
share of the run; the test prints the share and the smallest factor of
that key that would cross. Four warehouse runs on two seeds, about four
minutes:

    python3 -m pytest perfbench/test_sensitivity.py -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

KEY = "q_agg_distinct"
SEEDS = (11, 12)

#: worker entry that slows one key; run as ``python -c`` in place of worker.py
INJECT = """
import sys, time
sys.path.insert(0, {here!r})
import worker

setup = worker.Run.setup


def slowed_setup(self, *args, **kwargs):
    out = setup(self, *args, **kwargs)
    fn = self.queries[{key!r}]

    def slowed(spark, data_dir):
        time.sleep({delay!r})
        return fn(spark, data_dir)

    self.queries[{key!r}] = slowed
    return out


worker.Run.setup = slowed_setup
worker.main()
"""


def bench(capsys, seed: int, worker=None) -> tuple[dict, float]:
    argv = ["--workload", "warehouse", "--seed", str(seed), "--seconds", "25", "--trace", "0"]
    assert run.main(argv, worker=worker) == 0
    detail, result = (json.loads(x) for x in capsys.readouterr().out.splitlines()[-2:])
    assert result["correct"], detail
    return detail, result["metrics"]["run_s"]["value"]


def test_injected_slowdown_crosses_run_s_bound(capsys):
    with open(os.path.join(run.REPO, "BENCHMARK.json")) as f:
        bound = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}["run_s"]
    base, slowed, shares = [], [], []
    for seed in SEEDS:  # pairs on one seed each, unchanged run first
        detail, run_s = bench(capsys, seed)
        base.append(run_s)
        timed = detail["passes"][0]["keys"][KEY]
        key_s = timed["build_s"] + timed["action_s"]
        shares.append(key_s / run_s)
        code = INJECT.format(here=HERE, key=KEY, delay=0.5 * key_s)
        slowed.append(bench(capsys, seed, worker=[sys.executable, "-c", code])[1])
    limit = statistics.median(base) * (1 + bound)
    share = statistics.median(shares)
    print(
        f"run_s unchanged {base}, slowed {slowed}, limit {limit:.2f}; "
        f"{KEY} is {share:.0%} of run_s, so the gate needs x{1 + bound / share:.2f} of it"
    )
    assert max(base) <= min(base) * (1 + bound)
    assert statistics.median(slowed) > limit
