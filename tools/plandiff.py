#!/usr/bin/env python3
"""Compare two PLANS.md files section by section.

Usage: python3 tools/plandiff.py A.md B.md

Splits each file into its `## <query>` sections and compares them after
normalizing what changes from run to run without changing the plan:
expression ids (`#N`), `plan_id=N`, RDD ids (`MapPartitionsRDD[N]`, a
checkpointed loop's scan), the fresh names of higher-order function
variables (`lambda x_N`, a JVM-wide counter like the expression ids),
lambda identities (`Lambda$N/0x...@...`) and paths under /tmp. Prints
the name of every section that differs (or is in one file only) and
exits 1 if any does, 0 otherwise.
"""
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(lambda \w+?)_\d+"), r"\1_N"),
    (re.compile(r"Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "Lambda$N"),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "/tmp/PATH"),
]


def sections(path):
    """{name: normalized text} for each `## <name>` section of `path`."""
    out, name, lines = {}, None, []
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith("## "):
                if name is not None:
                    out[name] = "".join(lines)
                name, lines = line[3:].strip(), []
            elif name is not None:
                for pat, rep in NORMALIZE:
                    line = pat.sub(rep, line)
                lines.append(line)
    if name is not None:
        out[name] = "".join(lines)
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = sections(argv[1]), sections(argv[2])
    differ = [n for n in sorted(a.keys() | b.keys()) if a.get(n) != b.get(n)]
    for n in differ:
        print(n)
    print(f"{len(differ)} of {len(a.keys() | b.keys())} sections differ",
          file=sys.stderr)
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
