"""Compares two sets of benchmark result records.

    python3 perfbench/compare.py <before> <after>

Each side is a directory of result records (.bench_build/results/ of a
checkout) or a list of record files separated by commas. For every
workload and end-to-end metric it prints both medians, each side's spread
(inter-quartile range over median) and the change, and marks a change
worse than the metric's bound in BENCHMARK.json. Records measured on hosts
with a different CPU count are never compared: the tool refuses."""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(side: str) -> list:
    p = Path(side)
    files = ([f for f in sorted(p.glob("*.json")) if not f.name.endswith(".spans.json")]
             if p.is_dir() else [Path(f) for f in side.split(",") if f])
    return [json.loads(f.read_text()) for f in files]


def spread(xs: list) -> float:
    if len(xs) < 2:
        return float("nan")
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main(before: str, after: str) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    a, b = load(before), load(after)
    nprocs = {r["host"]["nproc"] for r in a + b}
    if len(nprocs) != 1:
        print(f"refusing to compare: records come from hosts with nproc {sorted(nprocs)}")
        return 2
    worse = 0
    for w in [x["name"] for x in spec["workloads"]]:
        ra = [r for r in a if r["workload"] == w and not r["trace"]]
        rb = [r for r in b if r["workload"] == w and not r["trace"]]
        if not ra or not rb:
            continue
        for m in spec["end_to_end"]:
            xa = [r["end_to_end"][m["name"]]["value"] for r in ra]
            xb = [r["end_to_end"][m["name"]]["value"] for r in rb]
            ma, mb = statistics.median(xa), statistics.median(xb)
            change = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            flag = "WORSE" if change > m["bound"] else "ok"
            worse += flag == "WORSE"
            print(f"{w:16s} {m['name']:14s} {ma:10.4f} -> {mb:10.4f} {m['unit']:4s} "
                  f"change {change:+.3f} (bound {m['bound']}) spread {spread(xa):.3f}/{spread(xb):.3f} "
                  f"n={len(xa)}/{len(xb)} {flag}")
        fa = sum(r["failed"] for r in ra + rb)
        if fa:
            print(f"{w:16s} {fa} failed operations across the compared runs")
    return 1 if worse else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
