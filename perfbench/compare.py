"""Compare two benchmark result files (``.perfbench/results/*.json``).

    python3 perfbench/compare.py BEFORE.json AFTER.json

Refuses (exit code 2) when the two results come from different hosts or
toolchains: every field of ``host.HOST_KEYS`` in the fingerprints must
match. Otherwise prints, per metric, both values and after/before.
"""

from __future__ import annotations

import json
import sys

from host import HOST_KEYS


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as fh:
        before = json.load(fh)
    with open(argv[1]) as fh:
        after = json.load(fh)
    mismatch = {k: (before["host"].get(k), after["host"].get(k)) for k in HOST_KEYS
                if before["host"].get(k) != after["host"].get(k)}
    if mismatch:
        print(f"refusing to compare: host fingerprints differ: {mismatch}", file=sys.stderr)
        return 2
    if (before["workload"], before["trace"]) != (after["workload"], after["trace"]):
        print("refusing to compare: different workload or trace mode", file=sys.stderr)
        return 2
    mb, ma = before["result"]["metrics"], after["result"]["metrics"]
    print(f"{'metric':42s} {'before':>14s} {'after':>14s} {'after/before':>13s}")
    for name in mb:
        b, a = mb[name]["value"], ma.get(name, {}).get("value")
        ratio = f"{a / b:13.3f}" if a is not None and b else f"{'-':>13s}"
        print(f"{name:42s} {b:14.4f} {a if a is not None else float('nan'):14.4f} {ratio}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
