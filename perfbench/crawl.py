"""The crawl workloads: waves of ``CrawlEngine`` over generated pages,
timed one by one, followed by untimed output checks."""

from __future__ import annotations

import json
import random
import shutil
import time
from contextlib import nullcontext
from pathlib import Path

import pyarrow.parquet as pq

import corpus
import kernel
from common import Run
from host import attribute, bytes_added, file_sizes
from spans import eventlog_summary, hooked_tables, self_times
from stats import median, tail_percentile

PHASES = ("t_select", "t_fetch", "t_extract", "t_crawled", "t_frontier", "t_metrics")
SAMPLE_PAGES = 16      # pages per output check
KERNEL_PAGES = 96      # pages for the direct kernel/UDF timings (traced run)


class ExtractLoop:
    """crawl-extract: every wave starts from a frontier pre-loaded with the
    whole corpus, so the timed wave is fetch + extract + commit over most
    of the corpus while every discovered link is already seen. The corpus
    is bootstrapped once; each wave runs on a copy of that warehouse."""

    def __init__(self, run: Run, pages: Path, shape: dict, tag: str):
        self.run, self.pages, self.shape, self.tag = run, pages, shape, tag
        self.urls = corpus.extract_urls(shape)
        self.wave_size = int(shape["pages"] * 0.8)
        self.booted = run.work / "wh" / f"{tag}-bootstrapped"
        self.copies = 0

    def engine(self, wh: Path, wave_size: int | None = None):
        from playwrightcrawler_spark.crawl.engine import CrawlEngine

        return CrawlEngine(self.run.spark, str(self.pages), str(wh),
                           wave_size=wave_size or self.wave_size,
                           per_host_quota=self.shape["pages_per_host"],
                           method_weights={"oldest": 1},
                           hunt_open_directories=False, bucket_lineage=False)

    def bootstrap(self) -> float:
        t0 = time.time()
        self.engine(self.booted).bootstrap(self.urls)
        return time.time() - t0

    def fresh(self, wave_size: int | None = None):
        """An engine on a new copy of the bootstrapped warehouse."""
        wh = self.run.work / "wh" / f"{self.tag}{self.copies}"
        self.copies += 1
        shutil.copytree(self.booted, wh)
        return self.engine(wh, wave_size), wh

    def waves(self, budget: float, min_waves: int) -> list[dict]:
        """Closed loop: one wave after another until ``budget`` seconds of
        wave time are spent (and at least ``min_waves`` ran)."""
        out, spent = [], 0.0
        while spent < budget or len(out) < min_waves:
            eng, wh = self.fresh()
            rec = run_wave(self.run, eng, wh, 1)
            if rec is None:
                break
            out.append(rec)
            spent += rec["wall"]
        return out


def run_wave(run: Run, eng, wh: Path, wave: int) -> dict | None:
    """One timed ``run_wave`` with its disk growth; phase spans are rebuilt
    from the returned timings when traced."""
    before = file_sizes(wh)
    with run.tracer.span("crawl.run_wave", wave=wave) as sp:
        t0 = time.time()
        m = run.op(f"wave {wave}", eng.run_wave, wave)
        t1 = time.time()
    if m is None or m.get("done"):
        return None
    phases, cursor = {}, t0
    for k in PHASES:
        v = m["timings"].get(k, 0.0) + (m["timings"].get("t_buckets", 0.0) if k == "t_metrics" else 0.0)
        phases[k] = (cursor, cursor + max(0.0, v))
        cursor += max(0.0, v)
        if sp is not None:
            run.tracer.add(f"engine.{k}", *phases[k], parent=sp["id"])
    return {"wave": wave, "start": t0, "wall": t1 - t0, "m": m, "phases": phases,
            "bytes": bytes_added(before, file_sizes(wh)), "wh": wh}


def summarize(recs: list[dict]) -> dict:
    fetched = sum(r["m"]["urls_fetched"] for r in recs)
    wall = sum(r["wall"] for r in recs)
    # the crawl's own queries: selection over the frontier, and the
    # hygiene + seen anti-join + commit of the discovered links
    frontier_side = [sum(r["phases"][k][1] - r["phases"][k][0] for k in ("t_select", "t_frontier"))
                     for r in recs]
    return {"urls": fetched, "wall": wall,
            "urls_per_s": fetched / wall if wall else 0.0,
            "wave_s_p50": median([r["wall"] for r in recs]),
            "query_s": median(frontier_side),
            "bytes_per_url": sum(r["bytes"] for r in recs) / max(1, fetched)}


# ------------------------------------------------------------ output checks
def _corpus_html(pages: Path, urls: set[str]) -> dict[str, bytes]:
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    t = ds.dataset(str(pages), format="parquet", partitioning="hive").to_table(
        columns=["url", "html"], filter=pc.field("url").isin(list(urls)))
    return dict(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))


def check_outputs(run: Run, pages: Path, recs: list[dict], new_links=None) -> None:
    """Untimed checks on the committed tables; each failure counts.
    ``new_links(crawled_urls) -> (bootstrap_urls, expected_new_urls)``, when
    given, pins the exact set of URLs one wave adds to the frontier."""
    from pyspark.sql import functions as F

    from playwrightcrawler_spark.functions import urltools
    from playwrightcrawler_spark.sources.tables import Lakehouse

    spark = run.spark
    by_wh: dict[Path, list[dict]] = {}
    for r in recs:
        by_wh.setdefault(r["wh"], []).append(r)
    for wh, wrecs in by_wh.items():
        lake = Lakehouse(str(wh))
        cr = (lake.crawled.read(spark).filter(F.col("route") != "email")
              .select("url", "wave", "route").collect())
        fr = lake.frontier.read(spark).select("url", "url_hash", "visited").collect()
        urls = [r.url for r in cr]
        run.check(f"{wh.name}: no URL crawled twice", len(urls) == len(set(urls)),
                  f"{len(urls) - len(set(urls))} repeats")
        visited = {r.url for r in fr if r.visited}
        run.check(f"{wh.name}: crawled URLs == frontier visited set", set(urls) == visited,
                  f"{len(set(urls) ^ visited)} differ")
        hashes = [r.url_hash for r in fr]
        run.check(f"{wh.name}: frontier url_hash unique", len(hashes) == len(set(hashes)),
                  f"{len(hashes) - len(set(hashes))} duplicates")
        wm = pq.read_table(str(wh / "wave_metrics" / "snapshots")).to_pylist()
        inserts = _inserts_per_wave(lake)
        bad = []
        for rec in wrecs:
            w = rec["wave"]
            got = {x["metric"]: x["value"] for x in wm if x["scope"] == "wave" and x["wave"] == w}
            rows = [r for r in cr if r.wave == w]
            want = {"urls_selected": len(rows),
                    "urls_fetched": sum(r.route != "missing" for r in rows),
                    "links_new": inserts.get(w, 0)}
            bad += [f"wave {w} {k} {got.get(k)}/{v}" for k, v in want.items() if got.get(k) != v]
        run.check(f"{wh.name}: wave_metrics counters == committed rows ({len(wrecs)} waves)",
                  not bad, " ".join(bad[:3]))
        if new_links is not None:
            boot, want = new_links({r.url for r in cr})
            added = {r.url for r in fr} - boot
            run.check(f"{wh.name}: links added to the frontier == the pages' links outside it",
                      added == want, f"{len(added - want)} unexpected, {len(want - added)} missing "
                      f"of {len(want)}")
    # seeded sample of the last wave: crawl output == the kernel called here
    rng = random.Random(run.seed)
    html_urls = sorted(r.url for r in cr if r.route == "html")
    sample = rng.sample(html_urls, min(SAMPLE_PAGES, len(html_urls)))
    got = {r.url: r for r in lake.crawled.read(spark).filter(F.col("url").isin(sample))
           .select("url", "text", "words", "isopendir", "opendir_pattern").collect()}
    frontier_urls = {r.url for r in fr}
    html = _corpus_html(pages, set(sample))
    bad_text, bad_links = [], []
    for u in sample:
        text, words, links, flag, pat = kernel.kernel_row(html[u], u)
        g = got.get(u)
        if g is None or (g.text, list(g.words or []), g.isopendir, g.opendir_pattern) != (text, words, flag, pat):
            bad_text.append(u)
        resolved = set()
        for h in links:
            try:
                resolved.add(urltools.sanitize_url(urltools.resolve_link(u, h)))
            except ValueError:
                continue
        if not {x for x in resolved if corpus.clean_link(x)} <= frontier_urls:
            bad_links.append(u)
    run.check("sample: text, words, open-dir verdict == kernel", not bad_text,
              f"{len(bad_text)}/{len(sample)} differ")
    run.check("sample: every crawlable link the kernel finds reached the frontier", not bad_links,
              f"{len(bad_links)}/{len(sample)} pages with links missing")


def _inserts_per_wave(lake) -> dict[int, int]:
    out: dict[int, int] = {}
    for v in lake.frontier.versions():
        d = Path(lake.frontier._snap_dir(v["version"])) / "inserts"
        if v.get("base") or not d.exists():
            continue
        n = sum(pq.ParquetFile(p).metadata.num_rows for p in d.glob("*.parquet"))
        out[v.get("wave", -1)] = out.get(v.get("wave", -1), 0) + n
    return out


# -------------------------------------------------------------- per layer
def layer_metrics(run: Run, recs: list[dict], io: dict, eventlog: Path,
                  kernel_pages: list[tuple[str, bytes]], wave_size: int) -> dict:
    n = max(1, len(recs))
    fetched = sum(r["m"]["urls_fetched"] for r in recs)
    out = {}
    for k in PHASES:
        out[f"engine.{k}_s"] = sum(r["phases"][k][1] - r["phases"][k][0] for r in recs) / n
    windows = [(k, *r["phases"][k]) for r in recs for k in PHASES]
    core = attribute(run.sampler.times, run.sampler.cpu, windows)
    for k in PHASES:
        out[f"engine.{k[2:]}.core_s"] = core.get(k, 0.0) / n
    out.update(kernel.step_costs(kernel_pages))
    out.update(kernel.udf_costs(kernel_pages, batch=256))
    out["udfs.batch_overhead_ms_per_page"] = (out["udfs.extract_batch_ms_per_page"]
                                              - out["textextract.page_ms"])
    out["engine.extract_core_ms_per_page"] = 1000.0 * core.get("t_extract", 0.0) / max(1, fetched)
    out["engine.extract_overhead_ms_per_page"] = (out["engine.extract_core_ms_per_page"]
                                                  - out["textextract.page_ms"])
    tail = tail_percentile([r["wall"] for r in recs])
    out["engine.wave_s_tail"] = tail[1] if tail else max(r["wall"] for r in recs)
    out["engine.phase_sum_gap_s"] = max(abs(r["wall"] - sum(b - a for a, b in r["phases"].values()))
                                        for r in recs)
    tr = run.tracer
    out["tables.crawled_append_s"] = tr.total("tables.crawled.append") / n
    out["tables.frontier_commit_s"] = tr.total("tables.frontier.commit_wave") / n
    out["tables.frontier_compact_s"] = (tr.total("tables.frontier.compact")
                                        / max(1, tr.count("tables.frontier.compact")))
    out["tables.compactions"] = tr.count("tables.frontier.compact")
    out["tables.metrics_write_s"] = tr.total("tables.wave_metrics.write_rows") / n
    for t in ("crawled", "frontier", "wave_metrics"):
        out[f"tables.{t}.bytes_written"] = io.get(t, {}).get("bytes", 0) / n
        out[f"tables.{t}.files_written"] = io.get(t, {}).get("files", 0) / n
    seen = sum(r["m"]["links_seen"] for r in recs)
    new = sum(r["m"]["links_new"] for r in recs)
    out["seen.links_seen"] = seen / n
    out["seen.links_new"] = new / n
    out["seen.new_ratio"] = new / seen if seen else 0.0
    out["frontier.fill_ratio"] = sum(r["m"]["urls_selected"] for r in recs) / (n * wave_size)
    from playwrightcrawler_spark.sources.tables import Lakehouse

    lake = Lakehouse(str(recs[-1]["wh"]))
    out["frontier.rows_end"] = lake.frontier.read(run.spark).count()
    dropped = 0
    for wh in {r["wh"] for r in recs}:
        waves = {r["wave"] for r in recs if r["wh"] == wh}
        wm = pq.read_table(str(wh / "wave_metrics" / "snapshots")).to_pylist()
        dropped += sum(x["value"] for x in wm if x["metric"] == "links_dropped" and x["wave"] in waves)
    out["hygiene.drop_ratio"] = dropped / seen if seen else 0.0
    ev = eventlog_summary(eventlog, [(r["start"], r["start"] + r["wall"]) for r in recs])
    for k in ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "deser_s",
              "shuffle_write_bytes", "input_bytes", "spill_bytes"):
        out[f"spark.{k}"] = ev[k] / n
    out["engine.jobs_per_wave"] = ev["jobs"] / n
    st = self_times(tr.spans)
    out["trace.run_wave_self_s"] = st.get("crawl.run_wave", 0.0) / n
    return out


def plan_audit(run: Run, eng) -> dict:
    """plans.audit on the wave hot path, untimed (the plan is built, never
    executed)."""
    from pyspark.sql import functions as F

    from playwrightcrawler_spark.plans import audit

    wave_df = (run.spark.read.parquet(eng.pages_path).select("url")
               .withColumn("url_hash", F.xxhash64("url"))
               .withColumn("host", F.lit("h")).withColumn("depth", F.lit(0))
               .withColumn("discovered_at", F.current_timestamp()))
    plan = eng._fused_fetch_extract(wave_df, npart=8)
    return {"plans.crawl_wave.shuffles": audit.shuffle_count(plan),
            "plans.crawl_wave.arrow_only": int(audit.uses_arrow_udfs_only(plan))}


def kernel_sample(run: Run, pages: Path, urls: list[str]) -> list[tuple[str, bytes]]:
    pick = random.Random(run.seed + 1).sample(urls, min(KERNEL_PAGES, len(urls)))
    html = _corpus_html(pages, set(pick))
    return [(u, html[u]) for u in pick if u in html]


# ------------------------------------------------------------- workload
def crawl_extract(run: Run) -> None:
    shape = corpus.SHAPES["crawl-extract"]
    pages, info = corpus.cached(run.work, "crawl-extract", run.seed, corpus.build_extract)
    traced = run.tracer.enabled
    low = None
    if traced and run.pair:
        qshape = {**shape, "pages": shape["pages"] // 4, "files": max(1, shape["files"] // 4)}
        low, _ = corpus.cached(run.work, "crawl-extract", run.seed, corpus.build_extract, qshape)
    run.info["corpus"] = {k: info[k] for k in ("digest", "rows", "html_bytes", "hosts", "cache")}

    # ---- set-up: session, engine, bootstrap, warm-up wave
    t0 = time.time()
    session_s = run.start_spark(len(run.cpus))
    loop = ExtractLoop(run, pages, shape, "x")
    boot_s = loop.bootstrap()
    t1 = time.time()
    eng, _ = loop.fresh(loop.wave_size // 4)
    run.op("warm-up wave", eng.run_wave, 1)
    warm_s = time.time() - t1
    run.e2e["setup_s"] = time.time() - t0
    run.info["wall"] = {"setup": run.e2e["setup_s"]}
    run.layer.update({"session.start_s": session_s, "engine.bootstrap_s": boot_s,
                      "engine.warmup_s": warm_s})

    # ---- timed waves (at least two, so wave_s_p50 is a median of samples)
    io: dict = {}
    with hooked_tables(run.tracer, io) if traced else nullcontext():
        recs = loop.waves(run.seconds, 2)
    if not recs:
        return
    s = summarize(recs)
    run.e2e.update({"urls_per_s": s["urls_per_s"], "wave_s_p50": s["wave_s_p50"],
                    "query_total_s": s["query_s"],
                    "warehouse_bytes_per_url": s["bytes_per_url"]})
    run.info["waves"] = {"timed": len(recs), "urls": s["urls"], "wave_size": loop.wave_size,
                         "pages": shape["pages"], "walls": [round(r["wall"], 3) for r in recs]}
    run.info["wall"]["timed"] = time.time() - t0 - run.e2e["setup_s"]

    # ---- untimed: checks and per-layer extras
    t2 = time.time()
    boot = set(loop.urls)
    check_outputs(run, pages, recs,
                  new_links=lambda crawled: (boot, corpus.extract_new_links(shape, crawled)))
    run.info["wall"]["checks"] = time.time() - t2
    if traced:
        # no timed wave compacts (each is wave 1 of a fresh warehouse):
        # measure the compaction layer by one direct call on the last one
        from playwrightcrawler_spark.sources.tables import Lakehouse

        with hooked_tables(run.tracer, {}):
            run.op("frontier compaction", Lakehouse(str(recs[-1]["wh"])).frontier.compact,
                   run.spark, meta={"wave": 1, "adds_hashes": False})
        run.layer.update(layer_metrics(run, recs, io, run.work / "eventlog",
                                       kernel_sample(run, pages, loop.urls), loop.wave_size))
        run.layer.update(plan_audit(run, eng))
        ref = run.untraced_median("urls_per_s")
        if ref is None:
            with run.tracer.paused():
                ref = summarize(loop.waves(0, 2))["urls_per_s"]
            run.info["trace_overhead_ref"] = "median of 2 untraced waves in this run"
        run.layer["trace.overhead_ratio"] = s["urls_per_s"] / ref

    # ---- weak-scaling leg (traced run): quarter corpus, quarter wave, N CPUs
    if low is not None:
        n, _ = run.pair
        run.narrow_to(n)
        qloop = ExtractLoop(run, low, qshape, "q")
        qloop.bootstrap()
        qrecs = qloop.waves(run.seconds / 2, 1)
        if qrecs:
            q = summarize(qrecs)
            run.layer["scaling_eff"] = s["urls_per_s"] / (4 * q["urls_per_s"])
            run.info["scaling"] = {"pair": list(run.pair), "low_urls_per_s": q["urls_per_s"],
                                   "low_waves": len(qrecs)}


# compaction cadence for crawl-discover: with the default (16 waves) a run
# would take minutes before its first compaction
DISCOVER_COMPACT_EVERY = 2


def crawl_discover(run: Run) -> None:
    """crawl-discover: the engine with its defaults (but a compaction every
    DISCOVER_COMPACT_EVERY waves), started from a small seed list over a
    url-bucketed table much larger than one wave, for enough waves to
    cross a frontier compaction."""
    from playwrightcrawler_spark.crawl.engine import CrawlEngine

    traced = run.tracer.enabled
    t0 = time.time()
    session_s = run.start_spark(len(run.cpus))
    g0 = time.time()
    pages, info = corpus.cached(run.work, "crawl-discover", run.seed,
                                lambda p, s, sh: corpus.build_discover(p, s, sh, run.spark))
    gen_s = time.time() - g0
    run.info["corpus"] = {k: info[k] for k in ("digest", "rows", "html_bytes", "hosts",
                                               "opendir_pages", "asset_pages", "cache")}
    wh = run.work / "wh" / "discover"
    eng = CrawlEngine(run.spark, str(pages), str(wh), compact_every=DISCOVER_COMPACT_EVERY)
    t1 = time.time()
    eng.bootstrap(json.loads((pages / "_seeds.json").read_text()))
    boot_s = time.time() - t1
    run.op("warm-up wave", eng.run_wave, 1)
    run.e2e["setup_s"] = time.time() - t0 - gen_s
    run.layer.update({"session.start_s": session_s, "engine.bootstrap_s": boot_s,
                      "engine.warmup_s": time.time() - t1 - boot_s})

    # no untraced reference wave in this run: successive waves differ in
    # size, so only untraced runs of the same waves are a fair reference
    io: dict = {}
    recs, wave = [], 2
    with hooked_tables(run.tracer, io) if traced else nullcontext():
        # the first compaction lands on wave compact_every; at least two
        # timed waves, as on crawl-extract
        while (sum(r["wall"] for r in recs) < run.seconds or len(recs) < 2
               or wave <= eng.compact_every):
            rec = run_wave(run, eng, wh, wave)
            if rec is None:
                break
            recs.append(rec)
            wave += 1
    if not recs:
        return
    s = summarize(recs)
    run.e2e.update({"urls_per_s": s["urls_per_s"], "wave_s_p50": s["wave_s_p50"],
                    "query_total_s": s["query_s"],
                    "warehouse_bytes_per_url": s["bytes_per_url"]})
    run.info["waves"] = {"timed": len(recs), "urls": s["urls"], "wave_size": eng.wave_size,
                         "compactions": sum(v.get("op") == "compact"
                                            for v in eng.lake.frontier.versions())}
    check_outputs(run, pages, recs)
    if traced:
        corpus_urls = pq.read_table(str(pages), columns=["url"]).column("url").to_pylist()
        html_urls = [u for u in corpus_urls if "/static/" not in u]
        run.layer.update(layer_metrics(run, recs, io, run.work / "eventlog",
                                       kernel_sample(run, pages, sorted(html_urls)),
                                       eng.wave_size))
        run.layer.update(plan_audit(run, eng))
        ref = run.untraced_median("urls_per_s")
        if ref is not None:
            run.layer["trace.overhead_ratio"] = s["urls_per_s"] / ref
