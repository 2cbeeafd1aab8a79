#!/usr/bin/env python3
"""Compare the run-3 work counters of two graft.Explain --stages logs.

Usage:
  python3 tools/same_work.py <explainLogA> <explainLogB>

Each log holds the output of one or more
`graft.Explain <dataDir> <query ...> --stages` runs; every query's line
  ===== <q> run3: jobs=J stages=S shuffleWrite=BYTES B/RECORDS records =====
is read (the last one wins when a query appears twice). Per query, jobs,
stages and shuffle-write records must be equal; the shuffle-write byte
difference is printed but not judged, since bytes move with compression and
partition layout. Exits non-zero on a counter difference or a query missing
from either log.
"""
import re
import sys

LINE = re.compile(r"^===== (\S+) run3: jobs=(\d+) stages=(\d+) "
                  r"shuffleWrite=(\d+) B/(\d+) records =====$")


def counters(path):
    out = {}
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            m = LINE.match(line.strip())
            if m:
                out[m.group(1)] = tuple(int(g) for g in m.groups()[1:])
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = counters(sys.argv[1]), counters(sys.argv[2])
    bad = 0
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            print(f"MISSING {q}: only in {'A' if q in a else 'B'}")
            bad += 1
            continue
        (ja, sa, ba, ra), (jb, sb, bb, rb) = a[q], b[q]
        same = (ja, sa, ra) == (jb, sb, rb)
        bad += not same
        print(f"{'SAME' if same else 'DIFF'} {q}: jobs={ja}/{jb} stages={sa}/{sb} "
              f"records={ra}/{rb} bytes={ba}/{bb} ({bb - ba:+d} B)")
    if not a and not b:
        print("no run3 counter lines in either log")
        bad += 1
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
