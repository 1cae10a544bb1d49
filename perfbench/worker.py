"""One benchmark run, in a fresh process started by ``run.py``.

Closed loop, one client: every key of the workload is built through the
registry's ``(spark, dir) -> DataFrame`` callable and then fully
materialised with ``queryExecution().toRdd().count()``, once, in the
workload's fixed order, on a generated dataset this process has not seen
(``run.py`` generates the inputs before this process starts). Outputs are
checked against the DuckDB oracle after the timed pass, with
``tests/parity.py``'s comparison.

Untraced (``--trace 0``) the run makes one timed pass and reports the
end-to-end metrics. The pass count is fixed: a second pass in the same
process runs JIT-warm and much faster, so a count that varied with
``--seconds`` would move ``run_s`` by itself. Traced (``--trace 1``) the
run makes two more passes after that one, untraced then traced, each
after a session restart and on its own unseen dataset, and reports the
per-layer metrics of the traced one; the untraced one gives the tracing
overhead.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import statistics
import sys
import time
import traceback

import tracing
from workloads import PACKAGE, WORKLOADS

#: packages whose keys' wall time the traced run reports
PACKAGES = ("operators", "llm", "sources", "streaming", "functions")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def key_package(spec) -> str:
    """Package (``operators``, ``llm``, ...) of the function registered
    under a key; the registry stores a wrapper that closes over it."""
    for cell in spec.fn.__closure__ or ():
        fn = cell.cell_contents
        if callable(fn) and getattr(fn, "__name__", None) == spec.fn.__name__:
            return fn.__module__.split(".")[1]
    return "other"


class Run:
    def __init__(self, args):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.log_dir = os.path.join(args.work, "eventlog")
        self.spark = None
        self.check_s = 0.0

    # -- set-up -----------------------------------------------------------

    def conf(self, traced: bool) -> dict[str, str]:
        work = self.args.work
        conf = {
            "spark.driver.memory": "3g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        }
        if traced:
            os.makedirs(self.log_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = f"file://{self.log_dir}"
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        return conf

    def setup(self, traced: bool = False) -> dict[str, float]:
        """Import the package, build the session, load the registry and
        warm up on the tiny dataset; returns the phase times. A repeat
        set-up (traced runs only) stops the session first and builds a
        new one in the same JVM."""
        if self.spark is not None:
            self.spark.stop()
        a = time.time()
        registry = importlib.import_module(f"{PACKAGE}.registry")
        session = importlib.import_module(f"{PACKAGE}.session")
        b = time.time()
        self.spark = session.build_session(
            app_name=f"perfbench-{self.workload.name}",
            master=self.master,
            extra_conf=self.conf(traced),
        )
        self.parallelism = self.spark.sparkContext.defaultParallelism
        c = time.time()
        self.registry = registry
        self.queries = registry.all_queries()
        self.oracles = registry.all_oracles()
        d = time.time()
        for key in self.workload.warmup:
            self.queries[key](self.spark, self.args.tiny)._jdf.queryExecution().toRdd().count()
        e = time.time()
        return {
            "import_s": b - a, "start_s": c - b, "registry_s": d - c, "warmup_s": e - d,
            "total_s": e - a,
        }

    # -- one pass ---------------------------------------------------------

    def timed_pass(self, data_dir: str, traced: bool) -> dict:
        sc = self.spark.sparkContext
        records = []
        t0 = time.time()
        for key in self.workload.keys:
            rec = {"key": key, "df": None, "rows": None, "error": None}
            if traced:
                sc.setJobGroup(f"pb:{key}:build", key)
            a = b = time.time()
            try:
                df = self.queries[key](self.spark, data_dir)
                b = time.time()
                if traced:
                    sc.setJobGroup(f"pb:{key}:action", key)
                rec["rows"] = df._jdf.queryExecution().toRdd().count()
                rec["df"] = df
            except Exception:  # a failing key is recorded and the pass goes on
                rec["error"] = traceback.format_exc(limit=3)
            c = time.time()
            rec.update(start=a, built=b, end=c)
            if traced and rec["df"] is not None:
                rec["plan"] = tracing.plan_metrics(rec["df"])
            records.append(rec)
        run_s = time.time() - t0
        if traced:
            sc._jsc.clearJobGroup()
            tracker = sc.statusTracker()
            for rec in records:
                for phase in ("build", "action"):
                    ids = tracker.getJobIdsForGroup(f"pb:{rec['key']}:{phase}")
                    rec[f"{phase}_jobs"] = len(ids)
        return {"records": records, "run_s": run_s, "data": data_dir, "traced": traced}

    def check(self, p: dict) -> None:
        """Oracle-backed keys: ``tests/parity.py``'s ``compare`` (row count,
        then order-insensitive exact values). Keys without an oracle must
        return the timed action's row count again."""
        from tests.parity import compare, duckdb_conn

        t0 = time.time()
        con = duckdb_conn(p["data"])
        try:
            for rec in p["records"]:
                if rec["error"] is not None:
                    rec["verdict"] = "error: " + rec["error"].strip().splitlines()[-1]
                    continue
                oracle = self.oracles.get(rec["key"])
                try:
                    if oracle is not None:
                        ok, detail = compare(rec["df"], con, oracle)
                    else:
                        rows = rec["df"]._jdf.queryExecution().toRdd().count()
                        ok = rows == rec["rows"]
                        detail = f"rows-only ({rows} rows, timed action {rec['rows']})"
                except Exception as e:  # a check that raises is a failed key
                    ok, detail = False, f"check raised {type(e).__name__}: {e}"
                rec["ok"] = ok
                rec["verdict"] = detail if ok else "FAIL: " + detail
        finally:
            con.close()
        self.check_s += time.time() - t0

    # -- the run ----------------------------------------------------------

    def execute(self) -> dict:
        args, wl = self.args, self.workload
        cpus = os.cpu_count() or 1
        self.master = f"local[{min(cpus, 4)}]"
        sys.path.insert(0, args.repo)
        setups = [self.setup()]
        # the set-up is cold: it counts from process start
        setups[0]["total_s"] = time.time() - args.t0
        passes = [self.timed_pass(args.data[0], traced=False)]
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        if args.trace:
            # an untraced then a traced pass, each after a session restart
            # on its own unseen dataset; after the first pass the JVM warms
            # only slowly, so the untraced one is the traced one's
            # counterpart. Only the traced pass is checked, which keeps the
            # run inside its time limit.
            for traced in (False, True):
                setups.append(self.setup(traced=traced))
                passes.append(self.timed_pass(args.data[len(passes)], traced=traced))
        self.check(passes[-1])
        self.spark.stop()

        records = [r for p in passes for r in p["records"]]
        failed = sum(1 for r in records if r["error"] or r.get("ok") is False)
        result = {"correct": failed == 0, "attempted": len(records), "failed": failed}
        if args.trace:
            result["metrics"], spans = self.layer_metrics(setups, passes)
            spans_path = os.path.join(args.results, f"spans_{wl.name}_s{args.seed}.json")
            with open(spans_path, "w") as f:
                json.dump(spans, f)
        else:
            result["metrics"] = {
                "setup_s": {"value": setups[0]["total_s"], "unit": "s"},
                "run_s": {"value": passes[0]["run_s"], "unit": "s"},
                "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
            }
        result["detail"] = {
            "workload": wl.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "sf": wl.sf,
            "master": self.master,
            "default_parallelism": self.parallelism,
            "nproc": cpus,
            "pyspark": __import__("pyspark").__version__,
            "python": platform.python_version(),
            "action": "queryExecution().toRdd().count()",
            "key_order": list(wl.keys),
            "warmup_keys": list(wl.warmup),
            "check_s": self.check_s,
            "setups": setups,
            "passes": [
                {
                    "dataset": os.path.basename(p["data"]),
                    "traced": p["traced"],
                    "run_s": p["run_s"],
                    "keys": {
                        r["key"]: {
                            "build_s": r["built"] - r["start"],
                            "action_s": r["end"] - r["built"],
                            "rows": r["rows"],
                            "oracle": r.get("verdict"),
                        }
                        for r in p["records"]
                    },
                }
                for p in passes
            ],
        }
        return result

    # -- per-layer metrics ------------------------------------------------

    def layer_metrics(self, setups, passes) -> tuple[dict, list[dict]]:
        """Per-layer metrics of the traced pass ``passes[2]``; the untraced
        pass before it gives the tracing overhead."""
        _, untraced, traced = passes
        records = traced["records"]
        jobs, stages = tracing.read_event_log(self.log_dir)
        spans = [{
            "id": "run", "parent": None, "kind": "run", "name": self.workload.name,
            "start": records[0]["start"], "end": records[-1]["end"],
        }]
        owner = {}
        for r in records:
            k = r["key"]
            spans += [
                {"id": k, "parent": "run", "kind": "key", "name": k,
                 "start": r["start"], "end": r["end"]},
                {"id": f"{k}:build", "parent": k, "kind": "build", "name": k,
                 "start": r["start"], "end": r["built"]},
                {"id": f"{k}:action", "parent": k, "kind": "action", "name": k,
                 "start": r["built"], "end": r["end"]},
            ]
            owner[f"pb:{k}:build"] = f"{k}:build"
            owner[f"pb:{k}:action"] = f"{k}:action"
        key_jobs = {}
        for j in jobs:
            parent = owner.get(j["group"])
            if parent is None:
                continue
            jid = f"job{j['id']}"
            key_jobs[j["id"]] = parent
            spans.append({"id": jid, "parent": parent, "kind": "job", "name": j["group"],
                          "start": j["start"], "end": j["end"]})
        m = dict.fromkeys(tracing.TASK_METRICS, 0.0)
        m["action.tasks"] = 0.0
        for st in stages:
            parent = key_jobs.get(st["job"])
            if parent is None:
                continue
            spans.append({"id": f"stage{st['id']}", "parent": f"job{st['job']}", "kind": "stage",
                          "name": f"stage {st['id']}", "start": st["start"], "end": st["end"]})
            for name, v in st["metrics"].items():
                m[name] += v
            if parent.endswith(":action"):
                m["action.tasks"] += st["metrics"]["tasks.count"]
        self_s = tracing.self_times(spans)

        for name in tracing.PLAN_METRICS:
            m[name] = sum(r.get("plan", {}).get(name, 0.0) for r in records)
        m["session.start_s"] = setups[0]["start_s"]
        m["session.warmup_s"] = setups[0]["warmup_s"]
        m["registry.build_s"] = sum(r["built"] - r["start"] for r in records)
        m["registry.build_jobs"] = sum(r.get("build_jobs", 0) for r in records)
        m["registry.build_py_s"] = self_s.get("build", 0.0)
        m["action.s"] = sum(r["end"] - r["built"] for r in records)
        m["action.jobs"] = sum(r.get("action_jobs", 0) for r in records)
        for pkg in PACKAGES:
            m[f"{pkg}.s"] = 0.0
        for r in records:
            pkg = key_package(self.registry.get(r["key"]))
            if pkg in PACKAGES:
                m[f"{pkg}.s"] += r["end"] - r["start"]
        m["query_p50_s"] = statistics.median(r["end"] - r["start"] for r in passes[0]["records"])
        m["trace.run_s"] = traced["run_s"]
        m["trace.overhead_s"] = traced["run_s"] - untraced["run_s"]
        m["trace.spans"] = len(spans)
        for kind in ("run", "action", "job", "stage"):
            m[f"trace.self_{kind}_s"] = self_s.get(kind, 0.0)
        return {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(m.items())}, spans


def unit_of(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "count"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--repo", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--results", required=True)
    ap.add_argument("--tiny", required=True, help="warm-up dataset")
    ap.add_argument("--data", nargs="+", required=True, help="one dataset per pass")
    ap.add_argument("--t0", type=float, required=True, help="time the worker was started")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    result = Run(args).execute()
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
