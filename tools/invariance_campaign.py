#!/usr/bin/env python3
"""Partition-invariance campaign driver (VERDICT r12 items 1-2): produce
full-registry graft.Verify dumps of ONE fixture under SEVERAL execution
shapes — shuffle partition count above/below the cpu count, AQE off,
tiny input splits — and diff every variant against the default-shape
baseline with tools/invariance.py. A 1000-executor cluster is exactly "a
different partition count", so any query whose values move with the
shape is a real distributed-correctness bug the single-shape DuckDB
oracle can never catch.

Dumps run as plain `java -cp` (no sbt project lock), so several shapes
run concurrently; compile first (`sbt compile`). A shape is a list of
`-Dspark.*` JVM flags, which graft.GraftSession lets override its own
settings; each dump's `[verify-shape]` stderr line must show every flag's
value, or the dump counts as failed. Dev tool only.

Usage:
  invariance_campaign.py SF_DIR OUT_ROOT [--shapes a,b,..] [--jobs 2]
                         [--cpus 4] [--mem 8g] [--json out.json]
"""
import argparse, glob, json, os, subprocess, sys, time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CP = f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

# Each shape isolates ONE execution factor against the baseline
# (cpus-matched shuffle count, AQE on, 128m splits — the session defaults).
SHAPES = {
    "base": [],
    # fewer shuffle partitions than cores, and a prime — any positional
    # partition assumption or per-partition float accumulation reorders
    "shuffle7": ["-Dspark.sql.shuffle.partitions=7"],
    # far more shuffle partitions than cores — the 1000-executor shape;
    # empty partitions, different range-exchange boundary sampling
    "shuffle64": ["-Dspark.sql.shuffle.partitions=64"],
    # AQE re-plans coalesce/skew decisions at runtime; OFF must not
    # change values (it changed a surrogate-rank window's shape in r12)
    "noaqe": ["-Dspark.sql.adaptive.enabled=false"],
    # small input splits multiply scan tasks — different initial
    # partitioning for every non-shuffle stage
    "split4m": ["-Dspark.sql.files.maxPartitionBytes=4m"],
}


def session_shape(stderr):
    """The settings Verify's `[verify-shape]` line reports, as a dict."""
    for line in stderr.splitlines():
        if line.startswith("[verify-shape] "):
            return dict(kv.split("=", 1) for kv in line.split()[1:])
    return {}


def run_dump(sf_dir, out_dir, flags, cpus, mem):
    t0 = time.time()
    # per-shape scratch: the sink-roundtrip/warehouse queries write real
    # files; concurrent shapes sharing one scratch dir read each other's
    # half-written output
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
               SPARK_GRAFT_TMP=f"{out_dir}_scratch")
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{mem}", "-Dspark.ui.enabled=false"] + flags +
           ["-cp", CP, "graft.Verify", sf_dir, out_dir])
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=14400,
                       env=env)
    fails = {}
    fj = f"{out_dir}/failures.json"
    if os.path.exists(fj):
        fails = json.load(open(fj))
    shape = session_shape(r.stderr)
    wanted = dict(f[len("-D"):].split("=", 1) for f in flags)
    unapplied = {k: v for k, v in wanted.items() if shape.get(k) != v}
    ok = r.returncode == 0 and not fails and not unapplied
    n = len(glob.glob(f"{out_dir}/*/"))
    if not ok:
        sys.stderr.write(f"[campaign] DUMP FAILED {out_dir}: exit "
                         f"{r.returncode} failures={sorted(fails)} "
                         f"unapplied={unapplied}\n{r.stderr[-1500:]}\n")
    return {"ok": ok, "n_dumped": n, "wall_sec": round(time.time() - t0, 1),
            "failures": sorted(fails), "session": shape}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out_root")
    ap.add_argument("--shapes", default=",".join(SHAPES),
                    help="comma-separated subset of: " + ",".join(SHAPES))
    ap.add_argument("--jobs", type=int, default=2,
                    help="concurrent Verify JVMs (each local[--cpus])")
    ap.add_argument("--cpus", default="4")
    ap.add_argument("--mem", default="8g")
    ap.add_argument("--reuse", action="store_true",
                    help="skip dumping shapes whose out dir already has "
                         "a clean full dump (resume a crashed campaign)")
    ap.add_argument("--json", default=None)
    a = ap.parse_args()
    shapes = a.shapes.split(",")
    unknown = [s for s in shapes if s not in SHAPES]
    if unknown:
        sys.exit(f"unknown shapes {unknown}; have {sorted(SHAPES)}")
    if "base" not in shapes:
        sys.exit("the campaign needs the 'base' shape to diff against")

    from concurrent.futures import ThreadPoolExecutor
    os.makedirs(a.out_root, exist_ok=True)
    dumps = {}
    with ThreadPoolExecutor(max_workers=a.jobs) as ex:
        futs = {}
        for s in shapes:
            out = f"{a.out_root}/{s}"
            if a.reuse and os.path.exists(f"{out}/oracle_sql.json"):
                fj = f"{out}/failures.json"
                fails = json.load(open(fj)) if os.path.exists(fj) else {}
                if not fails:
                    dumps[s] = {"ok": True,
                                "n_dumped": len(glob.glob(f"{out}/*/")),
                                "wall_sec": 0.0, "failures": [],
                                "reused": True}
                    print(f"[campaign] reusing {s} ({dumps[s]['n_dumped']}"
                          f" queries)")
                    continue
            futs[s] = ex.submit(run_dump, a.sf_dir, out,
                                SHAPES[s], a.cpus, a.mem)
        for s, f in futs.items():
            dumps[s] = f.result()
            print(f"[campaign] dump {s}: ok={dumps[s]['ok']} "
                  f"n={dumps[s]['n_dumped']} wall={dumps[s]['wall_sec']}s")
    if not all(d["ok"] for d in dumps.values()):
        print("[campaign] aborting compare: a dump failed")
        return 2

    compares = {}
    bad = 0
    for s in shapes:
        if s == "base":
            continue
        cj = f"{a.out_root}/compare_{s}.json"
        r = subprocess.run(
            [sys.executable, f"{REPO}/tools/invariance.py",
             f"{a.out_root}/base", f"{a.out_root}/{s}", "--json", cj],
            capture_output=True, text=True)
        c = json.load(open(cj)) if os.path.exists(cj) else None
        if c is None:
            compares[s] = {"ok": False, "msg": r.stdout[-500:] +
                           r.stderr[-500:]}
            bad += 1
            print(f"[campaign] compare {s}: TOOL FAILURE")
            continue
        div = [x for x in c["results"] if not x["ok"]]
        compares[s] = {"ok": not div, "n_queries": c["n_queries"],
                       "divergent": [{"name": d["name"], "msg": d["msg"]}
                                     for d in div]}
        bad += len(div)
        print(f"[campaign] compare base↔{s}: "
              f"{'INVARIANT' if not div else str(len(div)) + ' DIVERGENT'}"
              f" ({c['n_queries']} queries)")
        for d in div:
            print(f"    DIFF {d['name']}: {d['msg'][:200]}")

    verdict = "INVARIANT" if bad == 0 else f"{bad} DIVERGENCES"
    print(f"\n[campaign] {verdict} across {len(shapes) - 1} variants "
          f"({a.sf_dir})")
    if a.json:
        json.dump({"sf_dir": a.sf_dir, "shapes": {s: SHAPES[s]
                                                  for s in shapes},
                   "cpus": a.cpus, "dumps": dumps, "compares": compares,
                   "n_divergent_total": bad},
                  open(a.json, "w"), indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
