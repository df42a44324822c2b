"""Compare two sets of benchmark results (parent and change).

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the files ``run.py --out DIR`` writes, one per
(workload, seed). Runs are paired by workload and seed. Per workload and
end-to-end metric it prints each side's median and quartiles, the share
of pairs the change won, and a verdict against the metric's bound in
``BENCHMARK.json``:

- ``improved``: the change won at least 9 in 10 pairs (ties count for
  neither side) and the medians differ, in the better direction, by
  more than the parent's own quartile spread;
- ``regressed``: the change's median is worse than the parent's by more
  than the bound;
- ``unresolved``: the parent's quartile spread exceeds the bound and not
  every change run beats every parent run;
- ``unchanged``: otherwise.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(d: Path) -> dict:
    """{(workload, trace): {seed: {metric: value}}}"""
    out: dict = {}
    for f in sorted(d.glob("*.json")):
        rec = json.loads(f.read_text())
        vals = {k: m["value"] for k, m in rec["result"]["metrics"].items()}
        out.setdefault((rec["workload"], rec["trace"]), {})[rec["seed"]] = vals
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], pairs: list[tuple[float, float]],
            better: str, bound: float) -> tuple[str, float]:
    sign = 1.0 if better == "higher" else -1.0
    won = sum(1 for p, c in pairs if sign * (c - p) > 0)
    share = won / len(pairs) if pairs else 0.0
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    worse_by = -sign * (cm - pm) / abs(pm) if pm else 0.0
    if pairs and share >= 0.9 and sign * (cm - pm) > (p3 - p1):
        return "improved", share
    if worse_by > bound:
        return "regressed", share
    spread = (p3 - p1) / abs(pm) if pm else 0.0
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if spread > bound and not all_better:
        return "unresolved", share
    return "unchanged", share


def compare(parent_dir: Path, change_dir: Path, bench: dict) -> list[str]:
    spec = {m["name"]: m for m in bench["end_to_end"]}
    parent, change = load(parent_dir), load(change_dir)

    def cell(q):
        return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"

    lines = [f"{'workload':18} {'metric':14} {'parent median [q1, q3]':30} "
             f"{'change median [q1, q3]':30} {'won':>5}  verdict"]
    for (workload, trace) in sorted(parent):
        if trace or (workload, trace) not in change:
            continue
        p_runs, c_runs = parent[(workload, trace)], change[(workload, trace)]
        seeds = sorted(set(p_runs) & set(c_runs))
        for name, m in spec.items():
            p = [r[name] for r in p_runs.values() if name in r]
            c = [r[name] for r in c_runs.values() if name in r]
            if not p or not c:
                continue
            pairs = [(p_runs[s][name], c_runs[s][name]) for s in seeds]
            v, share = verdict(p, c, pairs, m["better"], m["bound"])
            lines.append(f"{workload:18} {name:14} {cell(quartiles(p)):30} "
                         f"{cell(quartiles(c)):30} {share:>5.2f}  {v}")
    return lines


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    for line in compare(Path(argv[0]), Path(argv[1]), bench):
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
