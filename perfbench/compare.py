"""A/B comparison of two checkouts on the benchmark, in alternating pairs.

    python3 perfbench/compare.py run PARENT_ROOT CHANGE_ROOT --workload W \
        --pairs 10 --out DIR
    python3 perfbench/compare.py report --parent A1.json A2.json ... \
        --change B1.json B2.json ...

``run`` executes ``perfbench/run.py`` in each checkout ``--pairs`` times for
BENCHMARK.json's ``run_seconds``, alternating which side runs first and
giving both sides of a pair the same seed, saves each run's summary under
``DIR`` and prints the report.
``report`` reads saved summaries or full run records (pair i is the i-th
parent file with the i-th change file) and prints, per workload and
end-to-end metric, each side's median and quartiles, the pairs the change
won, and a verdict by this rule:

* ``gain``: the change won at least nine tenths of the pairs (ties count for
  neither) and the medians differ, in the better direction, by more than
  the parent's interquartile distance;
* ``regression``: the change's median is worse than the parent's by more
  than the metric's bound in BENCHMARK.json;
* ``unresolved``: the parent's own spread (interquartile distance over
  median) exceeds the bound, unless every change run beats every parent run;
* ``no change`` otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import stats  # noqa: E402


def _benchmark() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _spec() -> dict:
    return {m["name"]: m for m in _benchmark()["end_to_end"]}


def _load(path: str) -> tuple[str, dict]:
    """(workload, {metric: value}) from a saved summary or a full run record."""
    with open(path) as f:
        doc = json.load(f)
    if "end_to_end" in doc:
        return doc["workload"], doc["end_to_end"]
    return doc["workload"], {k: v["value"] for k, v in doc["metrics"].items()}


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> dict:
    """Medians, quartiles, pair wins and the verdict for one metric."""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    p1, pm, p3 = stats.quartiles(parent)
    c1, cm, c3 = stats.quartiles(change)
    gap = sign * (cm - pm)
    worse_by = -gap / pm if pm else 0.0
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    if wins >= 0.9 * len(parent) and gap > p3 - p1:
        v = "gain"
    elif worse_by > bound:
        v = "regression"
    elif stats.spread(parent) > bound and not all_better:
        v = "unresolved"
    else:
        v = "no change"
    return {"parent": (p1, pm, p3), "change": (c1, cm, c3), "wins": wins,
            "pairs": len(parent), "verdict": v}


def report(parent_files: list[str], change_files: list[str]) -> str:
    if len(parent_files) != len(change_files):
        raise SystemExit("need as many parent files as change files")
    spec = _spec()
    groups: dict[str, list[tuple[dict, dict]]] = {}
    for pf, cf in zip(parent_files, change_files):
        (wp, mp), (wc, mc) = _load(pf), _load(cf)
        if wp != wc:
            raise SystemExit(f"pair {pf} / {cf} mixes workloads {wp} and {wc}")
        groups.setdefault(wp, []).append((mp, mc))
    lines = []
    for wl, pairs in groups.items():
        lines.append(f"{wl} ({len(pairs)} pairs)")
        lines.append(f"  {'metric':<16}{'parent q1/med/q3':>32}{'change q1/med/q3':>32}{'wins':>8}  verdict")
        for name, m in spec.items():
            if name not in pairs[0][0]:
                continue
            v = verdict([p[name] for p, _ in pairs], [c[name] for _, c in pairs],
                        m["better"], m["bound"])
            fmt = lambda t: "/".join(f"{x:.4g}" for x in t)  # noqa: E731
            lines.append(f"  {name:<16}{fmt(v['parent']):>32}{fmt(v['change']):>32}"
                         f"{v['wins']:>5}/{v['pairs']:<2}  {v['verdict']}")
    return "\n".join(lines)


def _run_one(root: str, workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise SystemExit(f"run failed in {root}:\n{proc.stderr[-2000:]}")
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    summary.update(workload=workload, seed=seed, root=root)
    return summary


def run_pairs(parent: str, change: str, workload: str, pairs: int, out: str, seed0: int) -> str:
    seconds = _benchmark()["run_seconds"]
    os.makedirs(out, exist_ok=True)
    files: dict[str, list[str]] = {"parent": [], "change": []}
    for i in range(pairs):
        order = [("parent", parent), ("change", change)]
        if i % 2:
            order.reverse()
        for side, root in order:
            summary = _run_one(root, workload, seed0 + i, seconds)
            path = os.path.join(out, f"{workload}-{side}-{i:02d}.json")
            with open(path, "w") as f:
                json.dump(summary, f)
            files[side].append(path)
    return report(files["parent"], files["change"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run both checkouts in alternating pairs")
    r.add_argument("parent_root")
    r.add_argument("change_root")
    r.add_argument("--workload", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=1000)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report", help="compare saved summaries or run records")
    p.add_argument("--parent", nargs="+", required=True)
    p.add_argument("--change", nargs="+", required=True)
    args = ap.parse_args(argv)
    if args.cmd == "run":
        print(run_pairs(args.parent_root, args.change_root, args.workload, args.pairs,
                        args.out, args.seed0))
    else:
        print(report(args.parent, args.change))
    return 0


if __name__ == "__main__":
    sys.exit(main())
