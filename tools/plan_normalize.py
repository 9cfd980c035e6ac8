#!/usr/bin/env python3
"""Compare two directories of plan dumps modulo what varies between JVM runs.

`graft.tools.Explain` with SPARK_GRAFT_PLAN_DIR writes one `<query>.txt`
per query. Two runs of the same commit do not give byte-equal dumps; these
parts change from one JVM to the next and are stripped before comparing:

  - expression ids (`a#123`, `n#8397L`);
  - `[plan_id=n]` on exchanges;
  - RDD ids and their call sites (`MapPartitionsRDD[83] at localCheckpoint
    at Pins.scala:32`), which also move whenever the calling code moves;
  - JVM lambda class names and object identity hashes
    (`$$Lambda/0x...@1a2b3c`, `WelfordAgg$@7a50b5f7`);
  - the checkout roots given with --root (scratch paths under a checkout).

Plans with several `count(distinct ...)` get Spark's distinct-aggregate
rewrite, which numbers its groups (`gid`) in an order that changes from run
to run: the Expand projections, Keys/Input/Results lists, hash-partitioning
keys and `gid = n` filters come out permuted. A file whose plan holds `gid#`
and still differs is compared again line by line as sorted token lists,
with the small integer literals on `gid` lines blanked: equal modulo that
permutation. Any other change (an operator, a function such as FLOOR versus
ROUND, a literal off the `gid` lines, a line added or dropped) is flagged.

Usage:
    python3 tools/plan_normalize.py DIR_A DIR_B [--root PATH]... [--diff N]
    python3 tools/plan_normalize.py --print FILE [--root PATH]...

Prints one line per differing or missing file, then a summary; exits 1 when
any file differs or exists on one side only. --diff N prints up to N lines
of unified diff per differing file; --print writes one normalized file to
stdout.
"""
import argparse
import difflib
import os
import re
import sys

SUBS = [
    (re.compile(r"#\d+L?\b"), "#"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=]"),
    (re.compile(r"RDD\[\d+\] at [^,\]\n]+"), "RDD[]"),
    (re.compile(r"\$\$Lambda[^\s,()\[\]]*"), "$$Lambda"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]{1,8}\b"), "@"),
]
TOKEN = re.compile(r"[A-Za-z_][\w$]*|\d+(?:\.\d+)?|[^\s\w]")
SMALL_INT = re.compile(r"^\d{1,2}$")


def normalize(text, roots):
    for r in sorted(roots, key=len, reverse=True):
        text = text.replace(r.rstrip("/"), "<root>")
    for pat, rep in SUBS:
        text = pat.sub(rep, text)
    return text


def gid_signature(text):
    """Per line, the sorted tokens, with small ints blanked on gid lines."""
    sig = []
    for line in text.splitlines():
        toks = TOKEN.findall(line)
        if "gid" in toks:
            toks = ["_" if SMALL_INT.match(t) else t for t in toks]
        sig.append(sorted(toks))
    return sig


def compare(a, b):
    """'same', 'gid' (equal modulo the gid permutation) or 'differ'."""
    if a == b:
        return "same"
    if "gid#" in a and "gid#" in b and gid_signature(a) == gid_signature(b):
        return "gid"
    return "differ"


def read(path, roots):
    with open(path, encoding="utf-8") as f:
        return normalize(f.read(), roots)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("dirs", nargs="*")
    ap.add_argument("--root", action="append", default=[],
                    help="checkout root to replace with <root> (repeatable)")
    ap.add_argument("--diff", type=int, default=0, metavar="N",
                    help="print up to N diff lines per differing file")
    ap.add_argument("--print", metavar="FILE", dest="print_file")
    args = ap.parse_args()
    if args.print_file:
        sys.stdout.write(read(args.print_file, args.root))
        return 0
    if len(args.dirs) != 2:
        ap.error("give two plan directories, or --print FILE")
    da, db = args.dirs
    names_a = {n for n in os.listdir(da) if n.endswith(".txt")}
    names_b = {n for n in os.listdir(db) if n.endswith(".txt")}
    counts = {"same": 0, "gid": 0, "differ": 0}
    for n in sorted(names_a ^ names_b):
        print(f"MISSING {n} (only in {da if n in names_a else db})")
    for n in sorted(names_a & names_b):
        a = read(os.path.join(da, n), args.root)
        b = read(os.path.join(db, n), args.root)
        verdict = compare(a, b)
        counts[verdict] += 1
        if verdict == "differ":
            print(f"DIFFER {n}")
            if args.diff:
                lines = difflib.unified_diff(a.splitlines(), b.splitlines(),
                                             os.path.join(da, n),
                                             os.path.join(db, n), lineterm="")
                for i, line in enumerate(lines):
                    if i >= args.diff:
                        break
                    print("  " + line)
    missing = len(names_a ^ names_b)
    print(f"{len(names_a & names_b)} files compared: {counts['same']} "
          f"identical, {counts['gid']} equal modulo the gid permutation, "
          f"{counts['differ']} differ; {missing} on one side only")
    return 1 if counts["differ"] or missing else 0


if __name__ == "__main__":
    sys.exit(main())
