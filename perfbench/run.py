"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload graph_iterative --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run generates its inputs from the seed
under ``perfbench/_work/run-<pid>/``, starts a ``local[n]`` session through the
package's ``session.get_spark``, warms it and the workload up, runs it, stops
the memory sampler, checks the outputs against the catalog's DuckDB oracles,
and stops every process it started. ``n`` is ``$SPARK_GRAFT_CPUS`` when set,
else ``min(nproc, 8)``.

The full record (host facts, every timed operation, checks, stream phases)
goes to ``perfbench/records/``; with ``--trace 1`` the spans go there too.
The last stdout line is the summary ``{"correct", "attempted", "failed",
"metrics"}``: end-to-end metrics untraced, per-layer metrics traced.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "flink_training_exercises_spark"
SF = 0.01
# A run must end well inside 180 s; past this many seconds after the session
# starts, the remaining operations are cancelled and count as failed.
WATCHDOG_S = 120.0
WATCHDOG_GRACE_S = 30.0

# End-to-end metrics every untraced run prints (BENCHMARK.json ``end_to_end``).
E2E_METRICS = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_pss_mb": "MB",
}


def host_facts(seed: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    versions = {"python": platform.python_version()}
    for mod in ("pyspark", "pyarrow", "duckdb"):
        try:
            versions[mod] = __import__(mod).__version__
        except ImportError:
            versions[mod] = None
    commit = None
    if os.path.exists(os.path.join(ROOT, ".git")):  # never search above the checkout
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_kb // 1024,
        "load_1m": os.getloadavg()[0],
        "versions": versions,
        "git_commit": commit,
        "package_sha256": _package_digest(),
        "seed": seed,
        "env": {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")},
    }


def _work_dir() -> str:
    """A fresh ``_work/run-<pid>`` for this run, after removing the work
    directories of runs that are no longer alive."""
    base = os.path.join(HERE, "_work")
    os.makedirs(base, exist_ok=True)
    for name in os.listdir(base):
        pid = name.removeprefix("run-")
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def _package_digest() -> str:
    """Hash of the package's Python sources: names the code under test when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(d, name)
            h.update(os.path.relpath(path, pkg).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _prepare_env(work: str) -> int:
    """Keep every file the run writes inside ``work`` and let Python workers
    import the package from any cwd. Returns the core count."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or min(os.cpu_count() or 1, 8))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return cores


def _session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap: no run-to-run drift from heap resizing
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


def _warm_up(spark) -> float:
    """One JVM expression evaluation: session and codegen bootstrap. Returns
    its seconds; each workload's own warm-up follows it."""
    t = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    return time.perf_counter() - t


def _watchdog(spark, seconds: float) -> threading.Timer:
    """After ``seconds``, stop every stream and cancel every job, so a hung
    operation raises, is counted as failed, and the run still ends. If the
    run is still going ``WATCHDOG_GRACE_S`` later (the JVM is gone, say),
    kill the JVM and leave with exit code 3."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)  # noqa: SLF001

    def fire() -> None:
        print(f"watchdog: cancelling after {seconds:.0f} s", file=sys.stderr)
        try:
            for q in spark.streams.active:
                q.stop()
            spark.sparkContext.cancelAllJobs()
        except Exception as e:  # noqa: BLE001 -- the JVM may already be gone
            print(f"watchdog: cancel failed: {e!r}", file=sys.stderr)
        time.sleep(WATCHDOG_GRACE_S)
        print("watchdog: run did not end; killing the JVM", file=sys.stderr)
        if proc is not None:
            proc.kill()
            proc.wait(timeout=30)
        os._exit(3)

    timer = threading.Timer(seconds, fire)
    timer.daemon = True
    timer.start()
    return timer


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import check, datagen, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    facts = host_facts(args.seed)
    work = _work_dir()
    cores = _prepare_env(work)
    facts["cores"] = cores
    facts["env_run"] = {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")}

    t = time.perf_counter()
    data_dir = datagen.generate(os.path.join(work, "data"), args.seed, SF)
    datagen_s = time.perf_counter() - t

    from flink_training_exercises_spark.session import get_spark

    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}"
    tracer = trace.Tracer(bool(args.trace), tag)
    mem = trace.MemorySampler().start()
    spark = None
    try:
        workload = workloads.WORKLOADS[args.workload]
        with tracer.span("session.setup"):
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = get_spark(
                    f"perfbench-{args.workload}", cpus=cores, extra_conf=_session_conf(work)
                )
            t1 = time.perf_counter()
            watchdog = _watchdog(spark, WATCHDOG_S)
            ctx = workloads.Ctx(
                spark=spark, data_dir=data_dir, work_dir=work,
                seed=args.seed, seconds=args.seconds, cores=cores, tracer=tracer,
            )
            with tracer.span("session.warmup"):
                warmup_legs = [_warm_up(spark)]
                t = time.perf_counter()
                workload.warm_up(ctx)
                warmup_legs.append(time.perf_counter() - t)
            t2 = time.perf_counter()
        with tracer.span(f"workload {args.workload}"):
            res = workload.run(ctx)
        # the checker's DuckDB and pandas memory stays out of peak_pss_mb
        peak_mb = mem.stop()
        oracle = check.Oracle(data_dir, datagen.TABLES)
        try:
            workloads.run_checks(res, oracle)
        finally:
            oracle.close()
        watchdog.cancel()
    finally:
        if spark is not None:
            _stop(spark)
        mem.stop()

    e2e = {"setup_s": t2 - t0, **res.metrics, "peak_pss_mb": peak_mb}
    layers = {"session.get_spark_s": t1 - t0, "session.warmup_s": t2 - t1, **res.layers}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": facts,
        "scale_factor": SF,
        "datagen_s": datagen_s,
        "warmup_legs_s": warmup_legs,
        "peak_pss_parts_mb": {k: v / 1024.0 for k, v in mem.parts_kb.items()},
        "attempted": res.attempted,
        "failed": res.failed,
        "error_rate": res.failed / res.attempted if res.attempted else 1.0,
        "end_to_end": e2e,
        "per_layer": layers if args.trace else {},
        "notes": res.notes,
        "checks": res.checks,
        "errors": res.errors,
        "ops": res.ops,
        "phases": res.phases,
    }
    out_dir = os.path.join(HERE, "records")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        tracer.write(os.path.join(out_dir, f"{tag}.trace.json"))
    shutil.rmtree(work, ignore_errors=True)

    wanted = (
        {k: (layers.get(k, 0.0), u) for k, u in workloads.LAYER_METRICS.items()}
        if args.trace
        else {k: (e2e.get(k, 0.0), u) for k, u in E2E_METRICS.items()}
    )
    summary = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in wanted.items()},
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
