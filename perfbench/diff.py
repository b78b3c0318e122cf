"""Compare two sets of benchmark results.

    python3 perfbench/run.py diff A.jsonl B.jsonl

Each file holds one result per line (``run.py --out``). For every
workload and metric present on both sides, prints the median and
quartiles of each side and the change of the median, largest movers
first. A change counts as a mover when it exceeds A's own spread
(quartile distance over median) and 2%.

It then flags the host-drift signature: an op whose wall time moved
while its executor CPU time and job count did not. The same work took
a different time, so the host, not the code, probably changed. This
needs traced results (``--trace 1``) on both sides.
"""

from __future__ import annotations

import argparse
import json
import statistics
from collections import defaultdict

MIN_MOVE = 0.02       # ignore changes below 2% of the median
CPU_STILL = 0.05      # executor CPU "did not move" within 5%


def load(path: str) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values, over every result in ``path``."""
    out: dict[str, dict[str, list[float]]] = defaultdict(
        lambda: defaultdict(list))
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                res = json.loads(line)
                w = res["env"]["workload"]
                for name, m in res["metrics"].items():
                    out[w][name].append(float(m["value"]))
    return out


def summary(values: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile)."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def rel(a: float, b: float) -> float:
    return (b - a) / abs(a) if a else (0.0 if a == b else float("inf"))


def compare(a: dict, b: dict) -> tuple[list[tuple], list[str]]:
    """(rows of (workload, metric, A summary, B summary, change, mover),
    host-drift flags)."""
    rows, flags = [], []
    for w in sorted(set(a) & set(b)):
        for name in sorted(set(a[w]) & set(b[w])):
            sa, sb = summary(a[w][name]), summary(b[w][name])
            change = rel(sa[1], sb[1])
            spread = (sa[2] - sa[0]) / abs(sa[1]) if sa[1] else 0.0
            rows.append((w, name, sa, sb, change,
                         abs(change) > max(spread, MIN_MOVE)))
        flags += drift(w, a[w], b[w])
    rows.sort(key=lambda r: -abs(r[4]))
    return rows, flags


def drift(w: str, a: dict, b: dict) -> list[str]:
    out = []
    for name in sorted(a):
        if not (name.startswith("op.") and name.endswith(".wall_ms")):
            continue
        op = name[len("op."):-len(".wall_ms")]
        keys = [f"op.{op}.wall_ms", f"op.{op}.executor_cpu_ms",
                f"op.{op}.jobs"]
        if not all(k in b for k in keys):
            continue
        wall, cpu, jobs = (rel(statistics.median(a[k]),
                               statistics.median(b[k])) for k in keys)
        if abs(wall) > 2 * CPU_STILL and abs(cpu) <= CPU_STILL \
                and jobs == 0:
            out.append(f"{w} {op}: wall {wall:+.1%} with executor CPU "
                       f"{cpu:+.1%} and the same job count: host drift?")
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="run.py diff")
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args(argv)
    rows, flags = compare(load(args.a), load(args.b))
    print(f"{'workload':8s} {'metric':45s} {'A q1/med/q3':>32s} "
          f"{'B q1/med/q3':>32s} {'change':>8s}")
    for w, name, sa, sb, change, mover in rows:
        fa = "/".join(f"{v:.4g}" for v in sa)
        fb = "/".join(f"{v:.4g}" for v in sb)
        print(f"{w:8s} {name:45s} {fa:>32s} {fb:>32s} {change:+8.1%}"
              + ("  *" if mover else ""))
    for f in flags:
        print("DRIFT " + f)
    return 0
