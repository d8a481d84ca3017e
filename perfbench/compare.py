"""Compare two sets of benchmark records (perfbench/records/*.json).

Usage: python3 perfbench/compare.py BASE.json [BASE.json ...] -- NEW.json [...]

Refuses (exit 2) when the records differ in core count, Spark task slots
or host, or mix workloads, traced and untraced runs, or input scales: such
figures are not comparable. Otherwise prints, per end-to-end metric, each
side's median and quartiles and the change against the bound fixed in
BENCHMARK.json, and exits 1 when a metric got worse by more than its bound.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SAME = ("cpus", "spark_cores", "host", "workload", "trace", "scale")


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, new = load(argv[:cut]), load(argv[cut + 1:])
    if not base or not new:
        print("compare: both sides need at least one record", file=sys.stderr)
        return 2
    for key in SAME:
        seen = {json.dumps(r.get(key)) for r in base + new}
        if len(seen) > 1:
            print(f"compare: refusing, records differ in {key}: {sorted(seen)}",
                  file=sys.stderr)
            return 2
    if len({r["dataset_checksum"] for r in base + new}) > 1:
        print("compare: note, the records were measured on different datasets",
              file=sys.stderr)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["end_to_end"]
    worse = []
    print(f"{base[0]['workload']}: {len(base)} base vs {len(new)} new records, "
          f"{base[0]['cpus']} cpus on {base[0]['host']}")
    for m in declared:
        name, sign = m["name"], (1 if m["better"] == "lower" else -1)
        b = quartiles([r["end_to_end"][name] for r in base])
        n = quartiles([r["end_to_end"][name] for r in new])
        change = (n[1] - b[1]) / b[1] if b[1] else 0.0
        flag = ""
        if sign * change > m["bound"]:
            flag = "  WORSE beyond bound"
            worse.append(name)
        print(f"  {name:14s} base {b[1]:.4g} [{b[0]:.4g}, {b[2]:.4g}]  "
              f"new {n[1]:.4g} [{n[0]:.4g}, {n[2]:.4g}]  "
              f"{change:+.1%} (bound {m['bound']:.0%}){flag}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
