#!/usr/bin/env python3
"""Compare two run records written by run.py (.bench_out/*.json).

    python3 perfbench/compare.py BASE.json OTHER.json

Refuses (exit 1) unless both records ran the same workload on the same
generated inputs: same seed, same table digests, same batch-stream digest.
Prints each end-to-end metric of both runs and their difference. When one
record is traced and the other is not, the difference is the tracing
overhead.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def identity(rec):
    return (rec["workload"], rec["seed"], rec["scale"],
            json.dumps(rec["inputs"], sort_keys=True))


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = load(argv[1]), load(argv[2])
    if identity(a) != identity(b):
        print("refusing to compare: the runs used different inputs\n"
              f"  {argv[1]}: {identity(a)}\n  {argv[2]}: {identity(b)}", file=sys.stderr)
        return 1
    label = "tracing overhead" if a["trace"] != b["trace"] else "difference"
    print(f"{a['workload']} seed {a['seed']}: trace {int(a['trace'])} vs trace {int(b['trace'])}; {label}")
    for name in sorted(a["e2e"]):
        x, y = a["e2e"][name], b["e2e"][name]
        rel = f"{(y - x) / x:+.1%}" if x else "n/a"
        print(f"  {name:22s} {x:14.4f} {y:14.4f} {y - x:+14.4f} {rel}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
