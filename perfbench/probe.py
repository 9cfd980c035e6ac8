"""Registry-wide probe behind the frozen query lists in queries.json.

Times every registered query once (builder call plus `count()`) on the
benchmark's tables, after a first pass of every query on the warm-up
tables, in the benchmark's session; writes perfbench/probe.json
with each query's wall time, builder time and row count (or error); then
derives perfbench/queries.json from it:

- light: LIGHT_N queries spread evenly over the name-sorted list of
  queries that took under LIGHT_MAX_S;
- heavy: HEAVY, chosen by hand: an iterative, pin-heavy query whose time
  goes to construction, and one whose time goes to execution.

    python3 perfbench/probe.py            # probe, then select
    python3 perfbench/probe.py --select   # select from the existing probe
"""
import datetime
import json
import os
import shutil
import sys

import run

LIGHT_N = 8
LIGHT_MAX_S = 0.5
HEAVY = ["q_dedup_clusters", "q_croston"]
WARM_SF = 0.001  # scale of the tables of the probe's first pass
PROBE = os.path.join(run.HERE, "probe.json")


def probe():
    os.makedirs(run.WORK, exist_ok=True)
    classpath, jvm_opts, _ = run.build()
    run_dir = os.path.join(run.WORK, "probe")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    warm = run.tables("warm", WARM_SF)
    plan = {"workload": "probe", "cpus": run.cpus(), "seconds": 0,
            "trace": 0, "warm_passes": 1, "min_timed_passes": 1,
            "work_dir": run_dir,
            "out": os.path.join(run_dir, "result.json"),
            "data_dirs": [warm, run.tables("bench", run.QUERY_SF)],
            "orders": [["*"], ["*"]]}
    res = run.launch_jvm(classpath, jvm_opts, plan, run_dir, timeout=3600)
    queries = {op["name"]: {"wall_s": round(op["wall_s"], 4),
                            "construct_s": round(op["construct_s"], 4),
                            **({"error": op["error"]} if "error" in op
                               else {"count": op["output"]})}
               for op in res["ops"] if op["pass"] == 1}
    with open(PROBE, "w") as f:
        json.dump({"date": datetime.date.today().isoformat(),
                   "cores": plan["cpus"], "sf": run.QUERY_SF,
                   "queries": queries}, f, indent=1, sort_keys=True)


def select():
    p = run.load_json(PROBE)
    q = {k: v for k, v in p["queries"].items() if "error" not in v}
    light = sorted(k for k, v in q.items() if v["wall_s"] < LIGHT_MAX_S)
    step = (len(light) - 1) / (LIGHT_N - 1)
    light = [light[round(i * step)] for i in range(LIGHT_N)]
    out = {"probe": {k: p[k] for k in ("date", "cores", "sf")},
           "light": {k: q[k]["count"] for k in light},
           "heavy": {k: q[k]["count"] for k in HEAVY}}
    with open(os.path.join(run.HERE, "queries.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if "--select" not in sys.argv[1:]:
        probe()
    select()
