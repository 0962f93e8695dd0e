#!/usr/bin/env python3
"""Compare two directories of DumpPlans output and list the queries whose
plans differ once run-specific noise is normalised away.

Usage:

    python3 tools/plan_diff.py <dirA> <dirB> [--show]

Each directory holds `<query>_<suffix>.txt` files written by
`graft.tools.DumpPlans` (the suffix may differ between the two sides).
Before comparing, the text of each plan is normalised:

- expression ids (`#123`) and `plan_id=`;
- lambda variable numbers (`lambda x_4`), which come from a JVM-wide
  counter and so depend on how many plans the JVM built before;
- lambda class names and object hashes (`$$Lambda$45/0x...@1a2b3c`);
- RDD ids (`MapPartitionsRDD[17]`);
- scratch directories under `/tmp/graft_*`;
- `.scala:<line>` call sites.

Prints one line per differing query (and per query present on one side
only), then a count. With `--show`, also prints a unified diff of each
differing pair's normalised plans. Exits 1 when any plan differs, else 0.
"""
import difflib
import os
import re
import sys

NOISE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b(lambda [A-Za-z_]\w*?)_\d+\b"), r"\1_N"),
    (re.compile(r"\$+Lambda\$?[\w$]*(/0x[0-9a-f]+)?"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"/tmp/graft_[^\s,\]\)]*"), "/tmp/graft_*"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
]


def normalise(text):
    for pattern, repl in NOISE:
        text = pattern.sub(repl, text)
    return text


def plans(d):
    """query name -> normalised plan text for every `<query>_<suffix>.txt`."""
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt") and "_" in f:
            with open(os.path.join(d, f)) as fh:
                out[f[:-4].rsplit("_", 1)[0]] = normalise(fh.read())
    return out


def main(argv):
    args = [a for a in argv if a != "--show"]
    if len(args) != 2:
        sys.exit(__doc__.strip().split("\n\n")[1])
    a, b = plans(args[0]), plans(args[1])
    same = differ = 0
    for q in sorted(set(a) | set(b)):
        if a.get(q) == b.get(q):
            same += 1
            continue
        differ += 1
        if q not in b or q not in a:
            print(f"only in {args[0] if q in a else args[1]}: {q}")
            continue
        print(f"differs: {q}")
        if "--show" in argv:
            sys.stdout.writelines(difflib.unified_diff(
                a[q].splitlines(True), b[q].splitlines(True), f"{args[0]}/{q}", f"{args[1]}/{q}"))
    print(f"{same} same, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
