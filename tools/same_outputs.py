#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

Usage:
  python3 tools/same_outputs.py <verifyDirA> <verifyDirB> [prefix ...]

Both dumps must hold the same query directories, and both oracle_sql.json
files must be byte-identical. Each query's rows are compared exactly after
tools/check.py's canonical form (columns by name, rows sorted by all
columns). With prefixes, only queries whose name starts with one of them are
compared (the oracle_sql.json check always runs). Exits non-zero at the
first difference.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import canon, load_spark  # noqa: E402


def queries(outdir):
    return sorted(d for d in os.listdir(outdir)
                  if os.path.isdir(os.path.join(outdir, d)))


def fail(msg):
    print(f"DIFF {msg}")
    sys.exit(1)


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a, b, prefixes = sys.argv[1], sys.argv[2], tuple(sys.argv[3:])
    with open(f"{a}/oracle_sql.json", "rb") as fa, \
            open(f"{b}/oracle_sql.json", "rb") as fb:
        if fa.read() != fb.read():
            fail("oracle_sql.json differs")
    names_a, names_b = queries(a), queries(b)
    if prefixes:
        names_a = [n for n in names_a if n.startswith(prefixes)]
        names_b = [n for n in names_b if n.startswith(prefixes)]
    if names_a != names_b:
        fail(f"query sets differ: only in A {sorted(set(names_a) - set(names_b))}, "
             f"only in B {sorted(set(names_b) - set(names_a))}")
    for name in names_a:
        ga, gb = load_spark(a, name), load_spark(b, name)
        if ga is None or gb is None:
            fail(f"{name}: no output in {'A' if ga is None else 'B'}")
        if sorted(ga.columns) != sorted(gb.columns):
            fail(f"{name}: columns {sorted(ga.columns)} != {sorted(gb.columns)}")
        ca, cb = canon(ga), canon(gb)
        if len(ca) != len(cb):
            fail(f"{name}: rows {len(ca)} != {len(cb)}")
        for c in ca.columns:
            # exact, NaN equal to NaN: the same engine must give the same bits
            if not ca[c].equals(cb[c]):
                i = int((ca[c] != cb[c]).values.argmax())
                fail(f"{name}: column {c} row {i}: {ca[c].iloc[i]!r} != {cb[c].iloc[i]!r}")
        print(f"SAME {name}: rows={len(ca)}")
    print(f"== {len(names_a)} queries row-identical, oracle_sql.json byte-identical ==")


if __name__ == "__main__":
    main()
