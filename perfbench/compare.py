"""Compare result records of the benchmark, base against head.

    python3 perfbench/compare.py --base A1.json A2.json ... --head B1.json ...

Each file is a record ``run.py`` wrote under ``.perfbench_work/results/``.
Records are comparable only when they were made on the same number of
cores, for the same workload and trace mode. Anything else is refused with
exit code 2, and so is a file without the host fingerprint, such as the
``BENCH_r*.json`` artifacts recorded at 32 or 8 cores. For each metric the
script prints each side's median and quartiles and head/base.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

SAME = ("nproc", "spark_graft_cpus")


def load(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        rec = json.load(f)
    host = rec.get("host") if isinstance(rec, dict) else None
    if not host or any(k not in host for k in SAME) or "metrics" not in rec:
        print(f"refused: {path} has no host fingerprint; not a perfbench record", file=sys.stderr)
        raise SystemExit(2)
    return rec


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--head", nargs="+", required=True)
    args = ap.parse_args()
    base = [load(p) for p in args.base]
    head = [load(p) for p in args.head]
    first = base[0]
    for path, rec in zip(args.base + args.head, base + head):
        for k in SAME:
            if rec["host"][k] != first["host"][k]:
                print(
                    f"refused: {path} was recorded with {k}={rec['host'][k]}, "
                    f"{args.base[0]} with {first['host'][k]}",
                    file=sys.stderr,
                )
                return 2
        for k in ("workload", "trace"):
            if rec[k] != first[k]:
                print(f"refused: {path} has {k}={rec[k]!r}, expected {first[k]!r}", file=sys.stderr)
                return 2
    print(f"workload {first['workload']}, trace {first['trace']}, "
          f"{first['host']['nproc']} cores, {len(base)} base vs {len(head)} head runs")
    print(f"{'metric':32} {'unit':6} {'base q1/med/q3':>26} {'head q1/med/q3':>26} {'head/base':>9}")
    for name, m in first["metrics"].items():
        b = [r["metrics"][name]["value"] for r in base]
        h = [r["metrics"][name]["value"] for r in head]
        qb, qh = quartiles(b), quartiles(h)
        ratio = qh[1] / qb[1] if qb[1] else float("nan")
        print(
            f"{name:32} {m['unit']:6} "
            f"{'/'.join(f'{x:.4g}' for x in qb):>26} {'/'.join(f'{x:.4g}' for x in qh):>26} "
            f"{ratio:9.3f}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
