#!/usr/bin/env python3
"""Benchmark of the graft ETL warehouse: one command, two workloads.

    python3 perfbench/run.py --workload {etl_batches,queries}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The first run builds the repo and the
benchmark JVM from source with sbt (offline) and generates the inputs;
later runs reuse both. Everything the benchmark writes stays under
`perfbench/.work/`.

Each run is one cold JVM: setup (build the session, a small warm-up, for
`queries` two untimed warm passes over the query list, and a drain), then
timed passes over the workload's operation list until `--seconds` have
elapsed, at least one (`queries`: four). Every output is checked: each `Pipeline.run` report
against the generator's expected counts, each query's `count()` against its
frozen row count. The last stdout line is the result JSON;
with `--trace 1` it carries the per-layer metrics instead of the
end-to-end ones. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen_etl  # noqa: E402
import gen_tables  # noqa: E402

WORKLOADS = ("etl_batches", "queries")
QUERY_CLASSES = ("light", "heavy")
MAX_PASSES = 8             # table copies / warehouses one run may use
QUERY_WARM_PASSES = 2      # untimed query passes, for codegen and the JIT
QUERY_PASSES = 4           # timed query passes at least
QUERY_SF = 0.01            # scale of the tables the timed queries read
TABLE_SEED = 42            # the tables are fixed; --seed shuffles query order
ETL = {"batches": 2, "events": 5_000, "users": 2_000, "intl": 1_000,
       "resend": 0.2}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
MODULES = ("Tables", "Pins", "Pipeline", "SparkEntry", "ingest", "transform",
           "operators", "warehouse", "export", "analytics", "ext", "plans",
           "streaming", "functions", "action", "other")
MODULE_METRICS = (("jobs", "count"), ("job_s", "s"), ("task_s", "s"),
                  ("useful_task_ratio", "ratio"),
                  ("shuffle_write_bytes", "bytes"), ("gc_s", "s"))
END_TO_END = (("setup_s", "s"), ("total_s", "s"), ("op_p50_s", "s"),
              ("retained_heap_mb", "MB"))
PER_LAYER = tuple(
    [(f"{m}.{k}", u) for m in MODULES for k, u in MODULE_METRICS] + [
        ("query.construct_s", "s"), ("query.construct_jobs", "count")] +
    [(f"query.{c}_{k}", "s") for c in QUERY_CLASSES
     for k in ("total_s", "construct_s")] + [
        ("query.analyze_s", "s"), ("query.optimize_s", "s"),
        ("query.plan_s", "s"), ("op.jobs", "count"),
        ("op.driver_only_s", "s"), ("op.job_union_s", "s"),
        ("op.core_busy_share", "ratio"), ("op_p90_s", "s"),
        ("pass.first_s", "s"), ("peak_rss_mb", "MB"),
        ("gc_s", "s"), ("jvm_gc_s", "s"),
        ("failed_tasks", "count"), ("other_share", "ratio"),
        ("error_rate", "ratio"), ("warehouse.files", "count"),
        ("warehouse.bytes", "bytes"),
        ("warehouse.rows_written_per_row_in", "ratio"),
        ("warehouse.storage_bytes_per_input_byte", "ratio")] +
    [(f"etl.batch_{b}_p50_s", "s") for b in range(1, ETL["batches"] + 1)] + [
        ("trace.total_s", "s"),
        ("trace.overhead_share", "ratio"),
        ("trace.jobs_outside_ops", "count"),
        ("trace.check_failures", "count")])


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(1)


def digest(paths):
    """Content hash of every file under `paths` (files or directories)."""
    h = hashlib.sha256()
    for p in paths:
        files = ([p] if os.path.isfile(p) else
                 sorted(os.path.join(d, f) for d, _, fs in os.walk(p)
                        for f in fs))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def fresh(stamp, key):
    try:
        with open(stamp) as f:
            return f.read() == key
    except OSError:
        return False


def mark(stamp, key):
    with open(stamp, "w") as f:
        f.write(key)


def driver_mem():
    """SPARK_DRIVER_MEM, else half the machine's memory in [2g, 8g]."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cpus():
    if os.environ.get("SPARK_GRAFT_CPUS"):
        return int(os.environ["SPARK_GRAFT_CPUS"])
    return len(os.sched_getaffinity(0))


def build():
    """Builds the repo and the benchmark JVM once per source state; returns
    (classpath, JVM options of the repo's build.sbt, source digest)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(WORK, "build.stamp")
    key = digest([os.path.join(ROOT, "build.sbt"),
                  os.path.join(ROOT, "project", "build.properties"),
                  os.path.join(ROOT, "src", "main"),
                  os.path.join(HERE, "build.sbt"),
                  os.path.join(HERE, "project", "build.properties"),
                  os.path.join(HERE, "src")])
    if not (fresh(stamp, key) and os.path.exists(launch)):
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline=true" not in opts:
            opts += " -Dsbt.offline=true"
        # resolve from the local artifact cache the machine's sbt is set up
        # for, never from the network
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if "sbt.repository.config" not in opts and os.path.exists(repos):
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
        log("building the repo and the benchmark JVM (sbt)")
        with open(os.path.join(WORK, "build.log"), "w") as out:
            try:
                rc = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchInfo"],
                    cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            except (OSError, subprocess.TimeoutExpired) as e:
                die(f"build failed: {e}")
        if rc != 0 or not os.path.exists(launch):
            with open(os.path.join(WORK, "build.log")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            die("build failed")
        mark(stamp, key)
    with open(launch) as f:
        lines = f.read().splitlines()
    return lines[0], [l for l in lines[1:] if l], key


def tables(name, sf):
    """Generated fixture tables, cached per generator source and scale."""
    d = os.path.join(WORK, f"tables_{name}")
    key = f"{sf} {TABLE_SEED} {digest([os.path.join(HERE, 'gen_tables.py')])}"
    stamp = os.path.join(WORK, f"tables_{name}.stamp")
    if not fresh(stamp, key):
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.generate(d, sf, TABLE_SEED)
        mark(stamp, key)
    return d


def table_copies(src, n):
    """`n` directories holding the same tables: each timed pass reads its
    own path, so no memo keyed by the table directory survives a pass."""
    dirs = []
    for k in range(n):
        d = os.path.join(WORK, "copies", f"pass_{k}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for f in sorted(os.listdir(src)):
            s, t = os.path.join(src, f), os.path.join(d, f)
            try:
                os.link(s, t)
            except OSError:
                shutil.copy2(s, t)
        dirs.append(d)
    return dirs


def etl_batches(name, seed, cfg):
    d = os.path.join(WORK, "etl", name)
    key = json.dumps([seed, cfg, digest([os.path.join(HERE, "gen_etl.py")])])
    stamp = d + ".stamp"
    if fresh(stamp, key):
        with open(os.path.join(d, "batches.json")) as f:
            return json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    batches = gen_etl.generate(d, seed, **cfg)
    with open(os.path.join(d, "batches.json"), "w") as f:
        json.dump(batches, f)
    mark(stamp, key)
    return batches


def load_json(path, default=None):
    try:
        with open(path) as f:
            return json.load(f)
    except OSError:
        if default is None:
            raise
        return default


def plan_for(args, run_dir):
    plan = {"workload": args.workload, "cpus": cpus(), "seconds": args.seconds,
            "trace": args.trace, "work_dir": run_dir,
            "out": os.path.join(run_dir, "result.json")}
    expected = {}
    if args.workload == "etl_batches":
        batches = etl_batches(f"seed_{args.seed}", args.seed, ETL)
        plan.update(batches=batches, max_passes=MAX_PASSES, warm_passes=0,
                    min_timed_passes=1)
        expected = {f"batch_{i + 1}": b["expected"]
                    for i, b in enumerate(batches)}
    else:
        lists = load_json(os.path.join(HERE, "queries.json"))
        frozen = {q: n for c in QUERY_CLASSES for q, n in lists[c].items()}
        names = sorted(frozen)
        rng = random.Random(args.seed)
        plan.update(
            warm_passes=QUERY_WARM_PASSES, min_timed_passes=QUERY_PASSES,
            data_dirs=table_copies(tables("bench", QUERY_SF), MAX_PASSES),
            orders=[rng.sample(names, len(names)) for _ in range(MAX_PASSES)])
        expected = frozen
    return plan, expected


def launch_jvm(classpath, jvm_opts, plan, run_dir, timeout=JVM_TIMEOUT_S):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [o for o in jvm_opts if not o.startswith("-Xmx")]
    opts.append(f"-Xmx{driver_mem()}")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               SPARK_GRAFT_TMP=os.path.join(run_dir, "graft-tmp"),
               SPARK_GRAFT_CPUS=str(plan["cpus"]))
    plan["launch_ms"] = time.time() * 1000.0
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    cmd = ["java", *opts, f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
           "perfbench.Main", plan_path]
    log(f"benchmark JVM: {plan['workload']}, {plan['cpus']} cores, "
        f"-Xmx{driver_mem()}")
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"benchmark JVM exceeded {timeout} s; log: {log_path}")
    if rc != 0 or not os.path.exists(plan["out"]):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"benchmark JVM failed (exit {rc})")
    log(f"benchmark JVM done in {time.time() - plan['launch_ms'] / 1000.0:.1f} s")
    with open(plan["out"]) as f:
        return json.load(f)


def check(ops, expected):
    """Marks each op ok/failed; a throw or a wrong output is a failure."""
    for op in ops:
        want = expected.get(op["name"])
        got = op.get("output")
        if "error" in op:
            op["problem"] = op["error"]
        elif want is None:
            op["problem"] = "no expected output"
        elif isinstance(want, dict):
            bad = {k: (got or {}).get(k) for k in want
                   if (got or {}).get(k) != want[k]}
            if bad:
                op["problem"] = f"report {bad} != expected " + str(
                    {k: want[k] for k in bad})
        elif got != want:
            op["problem"] = f"count {got} != expected {want}"
    return [op for op in ops if "problem" in op]


def p90(xs):
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def typical(ops):
    """Each operation's median timed run: one slow or fast execution out
    of several moves it little."""
    walls = {}
    for op in ops:
        walls.setdefault(op["name"], []).append(op["wall_s"])
    return [statistics.median(w) for w in walls.values()]


def pass_totals(ops):
    """Summed wall time of each pass, in pass order."""
    totals = {}
    for op in ops:
        totals[op["pass"]] = totals.get(op["pass"], 0.0) + op["wall_s"]
    return [totals[p] for p in sorted(totals)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not all(os.path.exists(os.path.join(ROOT, p)) for p in (
            "build.sbt", os.path.join("src", "main", "scala", "graft",
                                      "Pipeline.scala"))):
        die(f"no graft source tree next to {HERE}; run from a full checkout")
    os.makedirs(WORK, exist_ok=True)
    # one run at a time per checkout: runs share perfbench/.work
    lock = open(os.path.join(WORK, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    classpath, jvm_opts, build_key = build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan, expected = plan_for(args, run_dir)
    res = launch_jvm(classpath, jvm_opts, plan, run_dir)
    shutil.rmtree(os.path.join(WORK, "copies"), ignore_errors=True)

    ops = res["ops"]
    failed = check(ops, expected)
    for op in failed[:10]:
        log(f"FAILED pass {op['pass']} {op['name']}: {op['problem']}")
    error_rate = len(failed) / len(ops)
    timed = [op for op in ops if op["pass"] >= plan["warm_passes"]]
    walls = [op["wall_s"] for op in timed]
    e2e = {"setup_s": res["setup_s"],
           "total_s": sum(typical(timed)),
           "op_p50_s": statistics.median(walls),
           "retained_heap_mb": res["retained_heap_mb"]}
    extra = {**res.get("extra", {}), "op_p90_s": p90(walls),
             "pass.first_s": pass_totals(ops)[0],
             "peak_rss_mb": res["peak_rss_mb"]}
    print("[perfbench] config " + json.dumps(res["config"], sort_keys=True))
    print("[perfbench] " + json.dumps({
        "workload": args.workload, "seed": args.seed, "passes": res["passes"],
        "ops": len(ops), "error_rate": error_rate,
        **{k: round(v, 4) for k, v in {**e2e, **extra}.items()}}))
    correct = not failed
    # untraced totals of this workload, for the tracing overhead; a new
    # source state of the program or of this script starts a new history
    run_key = hashlib.sha256(
        (build_key + digest([os.path.abspath(__file__)])).encode()).hexdigest()
    history = os.path.join(WORK, f"history_{args.workload}_{run_key[:16]}.json")
    if args.trace:
        layers = {**res["layers"], **extra}
        layers["error_rate"] = error_rate
        for b in range(1, ETL["batches"] + 1):
            xs = [op["wall_s"] for op in ops if op["name"] == f"batch_{b}"]
            layers[f"etl.batch_{b}_p50_s"] = statistics.median(xs) if xs else 0.0
        if args.workload == "queries":
            lists = load_json(os.path.join(HERE, "queries.json"))
            passes = len(pass_totals(timed))
            for c in QUERY_CLASSES:
                cls = [op for op in timed if op["name"] in lists[c]]
                layers[f"query.{c}_total_s"] = sum(
                    op["wall_s"] for op in cls) / passes
                layers[f"query.{c}_construct_s"] = sum(
                    op["construct_s"] for op in cls) / passes
        rows_in = layers.pop("warehouse.rows_in", 0.0)
        written = layers.pop("warehouse.records_written", 0.0)
        layers["warehouse.rows_written_per_row_in"] = (
            written / rows_in if rows_in else 0.0)
        # overhead: against the untraced runs of this workload and build
        layers["trace.total_s"] = e2e["total_s"]
        past = load_json(history, [])
        untraced = statistics.median(past) if past else 0.0
        layers["trace.overhead_share"] = (
            layers["trace.total_s"] / untraced - 1 if untraced else 0.0)
        if layers.get("trace.check_failures", 1) != 0:
            correct = False
            log("trace self-check failed; see the JVM log")
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER}
    else:
        if correct:
            past = load_json(history, [])
            with open(history, "w") as f:
                json.dump(past + [e2e["total_s"]], f)
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
