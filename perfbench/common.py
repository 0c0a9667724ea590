"""State shared by the workload runners: the Spark session, the timers,
the operation ledger and the output-check ledger."""

from __future__ import annotations

import json
import logging
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from host import Sampler, end_children, pin_tree
from spans import Tracer
from stats import median

_LOG = logging.getLogger("perfbench")


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    work: Path
    cpus: list[int]                     # the main (4N) leg's CPUs
    pair: tuple[int, int] | None        # (N, 4N) weak-scaling pair
    tracer: Tracer
    sampler: Sampler
    spark: object = None
    attempted: int = 0
    failed: int = 0
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    # ---------------------------------------------------------- spark life
    def start_spark(self, cores: int) -> float:
        """Start the session at local[cores]; returns the seconds taken."""
        from playwrightcrawler_spark.session import get_spark

        t0 = time.time()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", cores=cores,
                               shuffle_partitions=max(8, cores))
        return time.time() - t0

    def stop_spark(self) -> None:
        """Stop the session and its JVM, and wait until every process the
        run started has ended. ``spark.stop()`` alone leaves the gateway
        JVM running until this interpreter exits, and the JVM (with the
        Python workers it forked) would then outlive the run."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # boundary: the JVM is ended below either way
                _LOG.exception("spark.stop failed")
            self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()          # the gateway JVM exits on EOF
        SparkContext._gateway = SparkContext._jvm = None
        signalled = end_children(grace=30.0)
        if signalled:
            self.info["processes_signalled"] = signalled

    def narrow_to(self, n: int) -> None:
        """Pin every thread of the process tree (this driver, the JVM, the
        Python workers) to the first ``n`` CPUs. The session keeps running:
        PySpark cannot restart a context in-process cleanly (cached UDFs
        keep the stopped context's accumulator), and a second JVM would
        cost more than the leg it measures."""
        pin_tree(self.cpus[:n])

    def untraced_median(self, metric: str) -> float | None:
        """Median of ``metric`` over the correct untraced runs of this
        workload logged in this checkout (the tracing-overhead reference),
        or None when there are none yet."""
        log = self.work / "results" / f"{self.workload}.jsonl"
        if not log.exists():
            return None
        vals = []
        for line in log.read_text().splitlines():
            r = json.loads(line)
            if r.get("trace") == 0 and r.get("correct") and metric in r.get("metrics", {}):
                vals.append(r["metrics"][metric]["value"])
        if not vals:
            return None
        self.info["trace_overhead_ref"] = f"median of {len(vals)} untraced runs"
        return median(vals)

    # ----------------------------------------------------------- ledgers
    def op(self, label: str, fn, *a, **kw):
        """Run one counted operation; a raised error counts as failed and
        returns None (the run goes on and reports correct=false)."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception as e:  # boundary: one failed wave or query must not hide the rest
            self.failed += 1
            _LOG.error("%s failed:\n%s", label, traceback.format_exc())
            self.info.setdefault("errors", []).append(f"{label}: {type(e).__name__}: {str(e)[:300]}")
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.checks.append((name, bool(ok), detail))
