#!/usr/bin/env python3
"""Compare the non-timing fields of two scale-envelope files.

Usage: python3 tools/envelope_diff.py A.json B.json

Each file holds one envelope line as written by `runMain graft.Scale
<family>`. Both are parsed and walked in parallel (objects by key, arrays by
position); every field is compared except timings: keys ending in `_sec` or
`_first` (so `total_sec`, `docs_per_sec` and `vecs_per_sec` too) and the
per-strategy and sweep-cell `sec`. Prints each differing field as a path
with both values and exits 1 if there is any, else prints "identical" and
exits 0.
"""
import json
import sys


def is_timing(key):
    return key == "sec" or key.endswith("_sec") or key.endswith("_first")


def diff(a, b, path, out):
    if isinstance(a, dict) and isinstance(b, dict):
        for k in sorted(set(a) | set(b)):
            if is_timing(k):
                continue
            p = f"{path}.{k}" if path else k
            if k not in a or k not in b:
                side = "A" if k not in a else "B"
                out.append(f"{p}: missing in {side}")
            else:
                diff(a[k], b[k], p, out)
    elif isinstance(a, list) and isinstance(b, list):
        if len(a) != len(b):
            out.append(f"{path}: length {len(a)} vs {len(b)}")
        for i, (x, y) in enumerate(zip(a, b)):
            diff(x, y, f"{path}[{i}]", out)
    elif type(a) is not type(b) or a != b:
        out.append(f"{path}: {json.dumps(a)} vs {json.dumps(b)}")


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    with open(argv[1]) as fa, open(argv[2]) as fb:
        a, b = json.load(fa), json.load(fb)
    out = []
    diff(a, b, "", out)
    for line in out:
        print(line)
    if out:
        print(f"{len(out)} differing field(s)")
        return 1
    print("identical")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
