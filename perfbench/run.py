#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload crawl-extract --seed 1 --seconds 15 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics
of ``spec.END_TO_END``; ``--trace 1`` is a separate run that records spans
and the Spark event log and prints the per-layer metrics of
``spec.PER_LAYER``. The last line of stdout is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the lines
before it are a readable report. Inputs are generated from ``--seed`` and
cached under ``.perfbench/`` at the repository root, which also holds the
run's warehouses, Spark scratch space and trace files.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import logging
import os
import shutil
import signal
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"


def parse_args(argv=None):
    import spec

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted({**spec.WORKLOADS, **spec.EXTRA_WORKLOADS}))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="CPU level of the main leg (default: every CPU in the affinity mask)")
    return ap.parse_args(argv)


def preflight() -> str | None:
    """Why the program under test cannot run from this checkout, if so."""
    for rel in ("playwrightcrawler_spark/crawl/engine.py", "__spark_entry__.py"):
        if not (ROOT / rel).is_file():
            return f"{rel} not found under {ROOT}: run from a checkout of the repository"
    try:
        import pyspark  # noqa: F401
    except ImportError as e:
        return f"pyspark is not importable: {e}"
    return None


def driver_memory() -> str:
    """JVM heap sized to the host: a quarter of RAM, 2-12 GB."""
    with open("/proc/meminfo") as fh:
        kb = int(fh.readline().split()[1])
    return f"{min(12, max(2, kb // (4 * 1024 * 1024)))}g"


def prepare_env(trace: bool) -> None:
    """Keep every file the run writes inside WORK and size the JVM."""
    for d in ("wh", "eventlog", "local", "tmp"):
        shutil.rmtree(WORK / d, ignore_errors=True)
        (WORK / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    # no hsperfdata file under /tmp either
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = str(WORK / "eventlog")
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG", None)


def report(run, metrics: dict, names: list[tuple], applicable: set[str]) -> None:
    print(f"workload {run.workload}  seed {run.seed}  seconds {run.seconds:g}  "
          f"trace {int(run.tracer.enabled)}  run {run.tracer.run_id}")
    print(f"affinity {run.info['affinity']}  pair N->4N {run.pair}  "
          f"steal {run.info['steal_pct']:.2f}%")
    for k in ("corpus", "waves", "passes", "scaling", "errors"):
        if k in run.info:
            print(f"{k}: {json.dumps(run.info[k])}")
    for name, unit, *_ in names:
        v = metrics[name]["value"]
        tag = "" if name in applicable else "  (n/a on this workload)"
        print(f"  {name:<40} {v:>16.6g} {unit}{tag}")
    bad = [c for c in run.checks if not c[1]]
    print(f"checks: {len(run.checks) - len(bad)}/{len(run.checks)} passed")
    for name, ok, detail in run.checks:
        print(f"  [{'ok' if ok else 'FAIL'}] {name}  {detail}")
    err = run.failed / run.attempted if run.attempted else 1.0
    print(f"error_rate {err:.6g} ratio  ({run.failed} failed of {run.attempted} operations)")


def main(argv=None) -> int:
    sys.path.insert(0, str(HERE))
    args = parse_args(argv)
    problem = preflight()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    import host
    import spec

    cpus = host.available_cpus()
    err = host.check_level(args.cpus, len(cpus))
    if err:
        print(json.dumps({"error": err, "available_cpus": len(cpus)}))
        return 3
    # every process the run starts is reaped here, however deep, and a
    # SIGTERM unwinds through the finally below that ends them
    host.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    level = args.cpus or len(cpus)
    cpus = cpus[:level]
    os.sched_setaffinity(0, cpus)
    # runs share WORK: a second run in the same checkout waits for the first
    # (the lock is held until this process exits)
    WORK.mkdir(exist_ok=True)
    lock = open(WORK / "lock", "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    prepare_env(bool(args.trace))
    sys.path.insert(0, str(ROOT))
    logging.basicConfig(level=logging.WARNING, stream=sys.stderr)
    logging.getLogger("py4j").setLevel(logging.ERROR)

    import analytics
    import crawl
    from common import Run
    from spans import Tracer

    sampler = host.Sampler(interval=0.1)
    run = Run(workload=args.workload, seed=args.seed, seconds=args.seconds, work=WORK,
              cpus=cpus, pair=host.scaling_pair(level), tracer=Tracer(bool(args.trace)),
              sampler=sampler)
    run.info["affinity"] = cpus
    ticks0 = host.cpu_ticks(cpus)
    with sampler:
        try:
            if args.workload == "analytics":
                analytics.analytics(run)
            elif args.workload == "crawl-discover":
                crawl.crawl_discover(run)
            else:
                crawl.crawl_extract(run)
        except Exception:  # boundary: report the failure as a result
            logging.exception("workload %s aborted", args.workload)
            run.attempted += 1
            run.failed += 1
        finally:
            run.stop_spark()
    run.info["steal_pct"] = host.steal_pct(ticks0, host.cpu_ticks(cpus))
    run.e2e["peak_rss_mb"] = sampler.peak_rss / 2**20
    run.info["peak_procs"] = sampler.peak_procs
    run.tracer.dump(WORK / "traces" / f"{args.workload}-s{args.seed}-{run.tracer.run_id}.jsonl")

    names = spec.PER_LAYER if args.trace else spec.END_TO_END
    values = run.layer if args.trace else run.e2e
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u, *_ in names}
    missing = [n for n, *_ in names if n not in values]
    if not args.trace and missing:
        run.check("every end-to-end metric measured", False, ", ".join(missing))
    report(run, metrics, names, set(values))
    result = {"correct": run.failed == 0, "attempted": max(1, run.attempted),
              "failed": run.failed, "metrics": metrics}
    (WORK / "results").mkdir(exist_ok=True)
    with open(WORK / "results" / f"{args.workload}.jsonl", "a") as fh:
        fh.write(json.dumps({"time": time.time(), "seed": args.seed, "trace": args.trace,
                             "info": run.info, **result}) + "\n")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
