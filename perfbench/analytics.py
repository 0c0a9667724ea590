"""The analytics workload: the 14 headline queries of ``__spark_entry__``
over generated tables, each run to a noop sink, pass after pass. An
untimed warm-up pass runs the same noop writes first; after the timed
passes, every result is collected and compared with the query's DuckDB
oracle."""

from __future__ import annotations

import math
import time
from pathlib import Path

import corpus
from common import Run
from host import attribute
from spans import eventlog_summary, self_times
from spec import HEADLINE
from stats import median, tail_percentile

TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")


def _normalize(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_normalize(x) for x in v)
    return v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_normalize(r[i]) for i in order) for r in rows)


def oracle_check(run: Run, con, name: str, sql: str, cols, rows) -> None:
    res = con.sql(sql)
    dcols = [c.lower() for c in res.columns]
    drows = res.fetchall()
    ok = sorted(cols) == sorted(dcols) and _rowset(cols, rows) == _rowset(dcols, drows)
    run.check(f"{name} == DuckDB oracle", ok, f"{len(rows)} vs {len(drows)} rows")


def _noop(df) -> bool:
    df.write.format("noop").mode("overwrite").save()
    return True


def one_pass(run: Run, qmap, sf: str) -> dict | None:
    """Each query to a noop sink; returns the per-query seconds."""
    times, t0 = {}, time.time()
    with run.tracer.span("analytics.pass"):
        for name in HEADLINE:
            with run.tracer.span(f"queries.{name}"):
                a = time.time()
                df = qmap[name](run.spark, sf)
                if run.op(name, _noop, df) is None:
                    return None
                times[name] = time.time() - a
    return {"start": t0, "wall": time.time() - t0, "q": times}


def passes(run: Run, qmap, sf: str, budget: float, at_least: int) -> list[dict]:
    """Closed loop of passes until ``budget`` seconds (at least ``at_least``)."""
    out, spent = [], 0.0
    while spent < budget or len(out) < at_least:
        p = one_pass(run, qmap, sf)
        if p is None:
            break
        out.append(p)
        spent += p["wall"]
    return out


def summarize(ps: list[dict], rows_in: dict[str, int]) -> dict:
    med = {q: median([p["q"][q] for p in ps]) for q in HEADLINE}
    total = sum(med.values())
    return {
        "query_total_s": total,
        "wave_s_p50": median([p["wall"] for p in ps]),
        # work per second at the stated input size: the input-table rows
        # each query reads, over the query time
        "rows_per_s": sum(rows_in.values()) / total,
        "rate": len(HEADLINE) / median([p["wall"] for p in ps]),
        "med": med,
    }


def input_rows(df) -> int:
    """Rows of the input files a query's plan scans (parquet footers)."""
    import pyarrow.parquet as pq

    files = {f.removeprefix("file://") for f in df.inputFiles()}
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def analytics(run: Run) -> None:
    import __spark_entry__ as entry

    shape = corpus.SHAPES["analytics"]
    sf, info = corpus.cached(run.work, "analytics", run.seed, corpus.build_analytics)
    qshape = {k: (v // 4 if k not in ("dim",) else v) for k, v in shape.items()}
    traced = run.tracer.enabled
    low = None
    if traced and run.pair:
        low, _ = corpus.cached(run.work, "analytics", run.seed, corpus.build_analytics, qshape)
    run.info["corpus"] = {"digest": info["digest"], "rows": info["rows"], "cache": info["cache"]}
    qmap, oracles = entry.queries(), entry.oracle_sql()
    sf = str(sf)

    # ---- set-up: session + two warm-up passes down the timed path (noop
    # sink): after one, the first timed pass still ran 5-20% slower than
    # the next
    t0 = time.time()
    run.layer["session.start_s"] = run.start_spark(len(run.cpus))
    warm, dfs = {}, {}
    for name in HEADLINE:
        a = time.time()
        df = dfs[name] = run.op(name, qmap[name], run.spark, sf)
        if df is not None:
            run.op(name, _noop, df)
        warm[name] = round(time.time() - a, 2)
    with run.tracer.paused():
        passes(run, qmap, sf, 0, 1)
    run.layer["engine.warmup_s"] = time.time() - t0 - run.layer["session.start_s"]
    run.e2e["setup_s"] = time.time() - t0
    run.info["wall"] = {"setup": run.e2e["setup_s"], "warm_queries": warm}
    rows_in = {n: input_rows(df) for n, df in dfs.items() if df is not None}

    # ---- timed passes, until the run's seconds are spent
    ps = passes(run, qmap, sf, run.seconds, 2 if traced else 1)
    if not ps:
        check_results(run, dfs, sf, oracles)
        return
    s = summarize(ps, rows_in)
    # the passes write nothing (noop sink): the warehouse is the input
    # tables, a control no program change should move
    warehouse = sum(p.stat().st_size for p in Path(sf).glob("*.parquet"))
    run.e2e.update({"urls_per_s": s["rows_per_s"], "wave_s_p50": s["wave_s_p50"],
                    "query_total_s": s["query_total_s"],
                    "warehouse_bytes_per_url": warehouse / sum(info["rows"].values())})
    slow = max(((q, t) for p in ps for q, t in p["q"].items()), key=lambda x: x[1])
    check_results(run, dfs, sf, oracles)
    run.info["passes"] = {"timed": len(ps), "queries": len(HEADLINE),
                          "walls": [round(p["wall"], 3) for p in ps],
                          "slowest_query": [slow[0], round(slow[1], 3)]}
    if traced:
        run.layer.update(layer_metrics(run, ps, s))
        ref = run.untraced_median("wave_s_p50")
        if ref is None:
            with run.tracer.paused():
                ref = summarize(passes(run, qmap, sf, 0, 2), rows_in)["wave_s_p50"]
            run.info["trace_overhead_ref"] = "median of 2 untraced passes in this run"
        # pass rate traced / untraced
        run.layer["trace.overhead_ratio"] = ref / s["wave_s_p50"]

    # ---- weak-scaling leg (traced run): quarter-size tables on N CPUs
    if low is not None:
        n, _ = run.pair
        run.narrow_to(n)
        lps = passes(run, qmap, str(low), run.seconds / 2, 1)
        if lps:
            q = summarize(lps, {})
            # a quarter-size pass is a quarter of the work: weak-scaling
            # efficiency is the ratio of pass rates
            run.layer["scaling_eff"] = s["rate"] / q["rate"]
            run.info["scaling"] = {"pair": list(run.pair), "low_queries_per_s": q["rate"],
                                   "low_passes": len(lps)}


def check_results(run: Run, dfs: dict, sf: str, oracles: dict) -> None:
    """Untimed: collect each query's result and compare it with its oracle."""
    import duckdb

    t0 = time.time()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    for name, df in dfs.items():
        if df is None:
            continue
        rows = run.op(name, lambda: [tuple(r) for r in df.collect()])
        if rows is not None:
            oracle_check(run, con, name, oracles[name], [c.lower() for c in df.columns], rows)
    con.close()
    run.info["wall"]["checks"] = time.time() - t0


def layer_metrics(run: Run, ps: list[dict], s: dict) -> dict:
    n = len(ps)
    out = {f"queries.{q}_s": v for q, v in s["med"].items()}
    ev = eventlog_summary(run.work / "eventlog", [(p["start"], p["start"] + p["wall"]) for p in ps])
    for k in ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "deser_s",
              "shuffle_write_bytes", "input_bytes", "spill_bytes"):
        out[f"spark.{k}"] = ev[k] / n
    core = attribute(run.sampler.times, run.sampler.cpu,
                     [("pass", p["start"], p["start"] + p["wall"]) for p in ps])
    out["queries.pass_core_s"] = core["pass"] / n
    tail = tail_percentile([t for p in ps for t in p["q"].values()])
    out["queries.query_s_tail"] = tail[1] if tail else 0.0
    st = self_times(run.tracer.spans)
    out["trace.pass_self_s"] = st.get("analytics.pass", 0.0) / n
    return out
