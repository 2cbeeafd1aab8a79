#!/usr/bin/env python3
"""Top-of-stack and inclusive sample shares from a JFR execution-sample dump.

Usage:
  jfr print --stack-depth 40 --events jdk.ExecutionSample rec.jfr > samples.txt
  python3 tools/jfr_shares.py samples.txt [frame ...]

With no frame arguments it prints the 25 most frequent top frames and the 25
most frequent frames anywhere on a stack (inclusive: a sample counts once per
frame name however often the frame repeats in it). Each frame argument is a
substring; its line reports the share of samples whose top frame matches it
and the share with a match anywhere on the stack.
"""
import re
import sys
from collections import Counter

FRAME = re.compile(r"^\s+(\S+)\(.*line:")


def samples(path):
    """Yield each sample's frames, top first."""
    frames = None
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            if line.startswith("jdk.ExecutionSample"):
                if frames:
                    yield frames
                frames = []
            elif frames is not None:
                m = FRAME.match(line)
                if m:
                    frames.append(m.group(1))
    if frames:
        yield frames


def main(argv):
    if len(argv) < 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    stacks = list(samples(argv[1]))
    n = len(stacks)
    if n == 0:
        print("no samples", file=sys.stderr)
        return 1
    print(f"samples {n}")
    wanted = argv[2:]
    if wanted:
        for w in wanted:
            top = sum(1 for s in stacks if w in s[0])
            inc = sum(1 for s in stacks if any(w in fr for fr in s))
            print(f"{w}: top {100.0 * top / n:.1f} %  inclusive {100.0 * inc / n:.1f} %")
        return 0
    tops = Counter(s[0] for s in stacks)
    incl = Counter(fr for s in stacks for fr in set(s))
    print("top of stack:")
    for fr, c in tops.most_common(25):
        print(f"  {100.0 * c / n:5.1f} %  {fr}")
    print("inclusive:")
    for fr, c in incl.most_common(25):
        print(f"  {100.0 * c / n:5.1f} %  {fr}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
