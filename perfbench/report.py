"""Where did the time go: per-layer self time from a traced run, and tracing overhead.

    python3 perfbench/report.py perfbench/records/<run>.trace.json
    python3 perfbench/report.py --overhead perfbench/records/<workload>-*.json

The first form reads one trace file and prints, for each query, its wall
time split into self time per layer:

* ``plans``        builder call minus the Spark jobs it ran (driver-side
                   plan construction and the Python around eager loops);
* ``spark.build``  Spark jobs the builder ran (eager loops, checkpoints);
* ``spark.action`` Spark jobs of the final collect;
* ``driver``       the rest of the collect: planning, scheduling gaps and
                   result transfer.

For each stream phase it prints the time in ``rides_view`` and
``paced_feed`` (sources), in building the query (plans), the micro-batch
phases from Spark's stream progress, and the time no batch was running. The second form takes run
records of one workload, with and without ``--trace 1``, and prints how much
the traced runs' end-to-end medians differ from the untraced ones.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import stats  # noqa: E402


def query_rows(spans: list[dict]) -> list[dict]:
    """Self time per layer for every query span of a trace."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    rows = []
    for q in spans:
        if not q["name"].startswith("query "):
            continue
        part = {c["name"]: c for c in kids.get(q["id"], [])}
        build, action = part.get("plans.build"), part.get("spark.action")
        if build is None or action is None:
            continue
        b_s, a_s = build["end"] - build["start"], action["end"] - action["start"]
        b_jobs = build["counts"].get("jobs_busy_s", 0.0)
        a_jobs = action["counts"].get("jobs_busy_s", 0.0)
        wall = q["end"] - q["start"]
        rows.append({
            "query": q["name"][len("query "):],
            "wall_s": wall,
            "plans": b_s - b_jobs,
            "spark.build": b_jobs,
            "spark.action": a_jobs,
            "driver": a_s - a_jobs,
            "unaccounted": wall - b_s - a_s,
            "jobs": build["counts"].get("jobs", 0) + action["counts"].get("jobs", 0),
            "build_jobs": build["counts"].get("jobs", 0),
        })
    return rows


def phase_rows(spans: list[dict]) -> list[dict]:
    """Micro-batch phase totals and idle time for every stream phase span."""
    rows = []
    for ph in spans:
        if not ph["name"].startswith("phase "):
            continue
        kids = [s for s in spans if s["parent"] == ph["id"]]
        batches = [s for s in kids if s["name"].startswith("micro-batch")]
        wall = ph["end"] - ph["start"]
        busy = sum(b["end"] - b["start"] for b in batches)
        get = lambda k: sum(b["counts"].get(k, 0.0) for b in batches)  # noqa: E731
        took = lambda prefix: sum(s["end"] - s["start"] for s in kids if s["name"].startswith(prefix))  # noqa: E731
        rows.append({
            "phase": ph["name"][len("phase "):],
            "wall_s": wall,
            "sources": took("sources."),
            "plans": took("plans."),
            "batches": len(batches),
            "addBatch": get("addBatch"),
            "latestOffset": get("latestOffset"),
            "queryPlanning": get("queryPlanning"),
            "commit": get("walCommit") + get("commitOffsets"),
            "other_in_batch": busy - get("addBatch") - get("latestOffset") - get("queryPlanning")
            - get("walCommit") - get("commitOffsets"),
            "no_batch_running": wall - busy,
        })
    return rows


def _table(rows: list[dict], key: str) -> str:
    if not rows:
        return "(none)"
    cols = [c for c in rows[0] if c != key]
    width = {c: max(10, len(c) + 2) for c in cols}
    head = f"{key:<32}" + "".join(f"{c:>{width[c]}}" for c in cols)
    lines = [head, "-" * len(head)]
    for r in rows:
        cells = "".join(
            f"{r[c]:>{width[c]}.3f}" if isinstance(r[c], float) else f"{r[c]:>{width[c]}}" for c in cols
        )
        lines.append(f"{r[key]:<32}" + cells)
    return "\n".join(lines)


def where_time_went(trace_path: str) -> str:
    with open(trace_path) as f:
        spans = json.load(f)["spans"]
    out = [f"trace {os.path.basename(trace_path)} (seconds of self time per layer)", ""]
    out += ["queries:", _table(query_rows(spans), "query"), ""]
    out += ["stream phases:", _table(phase_rows(spans), "phase")]
    return "\n".join(out)


def overhead(records: list[dict]) -> str:
    """Traced against untraced medians of each end-to-end metric."""
    by_trace: dict[int, list[dict]] = {0: [], 1: []}
    for r in records:
        by_trace[int(r["trace"])].append(r["end_to_end"])
    if not by_trace[0] or not by_trace[1]:
        return "need records with --trace 0 and with --trace 1"
    lines = [f"{'metric':<20}{'untraced':>12}{'traced':>12}{'overhead':>10}   (runs: "
             f"{len(by_trace[0])} untraced, {len(by_trace[1])} traced)"]
    for k in by_trace[0][0]:
        u = stats.percentile([e[k] for e in by_trace[0]], 50)
        t = stats.percentile([e[k] for e in by_trace[1]], 50)
        lines.append(f"{k:<20}{u:>12.4f}{t:>12.4f}{(t / u - 1) * 100 if u else 0:>9.1f}%")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("files", nargs="+")
    ap.add_argument("--overhead", action="store_true", help="compare traced and untraced records")
    args = ap.parse_args(argv)
    if args.overhead:
        recs = []
        for p in args.files:
            with open(p) as f:
                recs.append(json.load(f))
        print(overhead(recs))
    else:
        for p in args.files:
            print(where_time_went(p))
    return 0


if __name__ == "__main__":
    sys.exit(main())
