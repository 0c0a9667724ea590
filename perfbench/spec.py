"""Metric names, units and direction — the benchmark's public record.

``BENCHMARK.json`` at the repository root lists the same end-to-end and
per-layer metrics; ``tests/test_helpers.py`` keeps the two in step. Every
workload prints every metric of the list its ``--trace`` flag selects; a
per-layer metric that a workload does not exercise is printed as 0 and
marked ``n/a`` in the report.
"""

from __future__ import annotations

WORKLOADS = {
    "crawl-extract": "240 markup-heavy pages of ~100 KB, frontier pre-loaded with all; each timed "
                     "wave crawls 192: extraction and the crawled write dominate, frontier and "
                     "seen see only 2 dead links a page",
    "analytics": "the 14 bench.HEADLINE queries over generated tables (lineitem 120k, "
                 "events 20k, documents 500 rows) to a noop sink; never touches the crawl "
                 "engine",
}

# runnable by name but left out of BENCHMARK.json: every run pays ~40 s of
# cold set-up, and a third workload's 22 runs do not fit the benchmark's
# total time budget next to the other two
EXTRA_WORKLOADS = {
    "crawl-discover": "8k pages of a few KB over 1000 Zipf-sized hosts, url-bucketed; "
                      "engine defaults from 24 seeds, compaction every 2 waves: hygiene, "
                      "seen anti-join, MoR commits dominate",
}

# name, unit, better, bound (share of the parent's median). The time bounds
# are the widest allowed: on a shared 4-vCPU host, hypervisor steal of
# 5-15% slows whole runs by 20-60%, far beyond the run-to-run noise of a
# quiet host (quartile spread ~0.05)
END_TO_END = [
    ("urls_per_s", "urls/s", "higher", 0.25),
    ("wave_s_p50", "s", "lower", 0.25),
    ("warehouse_bytes_per_url", "B/url", "lower", 0.1),
    ("query_total_s", "s", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
]

_PHASES = ("select", "fetch", "extract", "crawled", "frontier", "metrics")
HEADLINE = (
    "pricing_summary", "top_customers", "frontier_oldest_per_host",
    "frontier_fewest_urls", "seen_anti_join", "topk_words", "exact_dedup",
    "minhash_lsh_pairs", "minhash_lsh_pairs_xxh", "embedding_near_dup",
    "embedding_topk", "lang_id", "quality_scores", "token_counts",
)

# name, unit, better
PER_LAYER = (
    [(f"engine.t_{p}_s", "s", "lower") for p in _PHASES]
    + [(f"engine.{p}.core_s", "core-s", "lower") for p in _PHASES]
    + [
        ("engine.extract_core_ms_per_page", "ms", "lower"),
        ("engine.extract_overhead_ms_per_page", "ms", "lower"),
        ("engine.jobs_per_wave", "count", "lower"),
        ("engine.wave_s_tail", "s", "lower"),
        ("engine.phase_sum_gap_s", "s", "lower"),
        ("textextract.decode_ms", "ms", "lower"),
        ("textextract.parse_ms", "ms", "lower"),
        ("textextract.text_join_ms", "ms", "lower"),
        ("textextract.top_words_ms", "ms", "lower"),
        ("textextract.open_dir_ms", "ms", "lower"),
        ("textextract.page_ms", "ms", "lower"),
        ("textextract.fast_scan_bail_share", "ratio", "lower"),
        ("textextract.open_dir_hit_share", "ratio", "higher"),
        ("udfs.extract_batch_ms_per_page", "ms", "lower"),
        ("udfs.batch_overhead_ms_per_page", "ms", "lower"),
        ("udfs.canonicalize_us_per_link", "us", "lower"),
        ("udfs.resolve_links_us_per_link", "us", "lower"),
        ("tables.crawled_append_s", "s", "lower"),
        ("tables.frontier_commit_s", "s", "lower"),
        ("tables.frontier_compact_s", "s", "lower"),
        ("tables.compactions", "count", "lower"),
        ("tables.metrics_write_s", "s", "lower"),
    ]
    + [(f"tables.{t}.{k}", u, "lower")
       for t in ("crawled", "frontier", "wave_metrics")
       for k, u in (("bytes_written", "B"), ("files_written", "count"))]
    + [
        ("frontier.rows_end", "count", "higher"),
        ("frontier.fill_ratio", "ratio", "higher"),
        ("seen.links_seen", "count", "higher"),
        ("seen.links_new", "count", "higher"),
        ("seen.new_ratio", "ratio", "higher"),
        ("hygiene.drop_ratio", "ratio", "lower"),
        ("spark.stages", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.task_run_s", "core-s", "lower"),
        ("spark.task_cpu_s", "core-s", "lower"),
        ("spark.gc_s", "core-s", "lower"),
        ("spark.deser_s", "core-s", "lower"),
        ("spark.shuffle_write_bytes", "B", "lower"),
        ("spark.input_bytes", "B", "lower"),
        ("spark.spill_bytes", "B", "lower"),
        ("plans.crawl_wave.shuffles", "count", "lower"),
        ("plans.crawl_wave.arrow_only", "bool", "higher"),
    ]
    + [(f"queries.{q}_s", "s", "lower") for q in HEADLINE]
    + [
        ("queries.pass_core_s", "core-s", "lower"),
        ("queries.query_s_tail", "s", "lower"),
        ("session.start_s", "s", "lower"),
        ("engine.bootstrap_s", "s", "lower"),
        ("engine.warmup_s", "s", "lower"),
        ("scaling_eff", "ratio", "higher"),
        ("trace.overhead_ratio", "ratio", "higher"),
        ("trace.run_wave_self_s", "s", "lower"),
        ("trace.pass_self_s", "s", "lower"),
    ]
)

# layer metric (prefix) -> the end-to-end metric and workload it should move
LAYER_MAP = {
    "engine.t_extract_s": ("urls_per_s", "crawl-extract"),
    "engine.t_crawled_s": ("urls_per_s", "crawl-extract"),
    "engine.t_select_s": ("wave_s_p50", "crawl-discover"),
    "engine.t_frontier_s": ("wave_s_p50", "crawl-discover"),
    "engine.jobs_per_wave": ("wave_s_p50", "crawl-discover"),
    "textextract.": ("urls_per_s", "crawl-extract"),
    "udfs.extract_batch_ms_per_page": ("urls_per_s", "crawl-extract"),
    "udfs.batch_overhead_ms_per_page": ("urls_per_s", "crawl-extract"),
    "udfs.canonicalize_us_per_link": ("wave_s_p50", "crawl-discover"),
    "udfs.resolve_links_us_per_link": ("wave_s_p50", "crawl-discover"),
    "tables.crawled_append_s": ("urls_per_s", "crawl-extract"),
    "tables.": ("warehouse_bytes_per_url", "crawl-discover"),
    "frontier.": ("wave_s_p50", "crawl-discover"),
    "seen.": ("wave_s_p50", "crawl-discover"),
    "hygiene.": ("wave_s_p50", "crawl-discover"),
    "spark.deser_s": ("wave_s_p50", "crawl-discover"),
    "spark.tasks": ("wave_s_p50", "crawl-discover"),
    "spark.gc_s": ("urls_per_s", "crawl-extract"),
    "spark.spill_bytes": ("urls_per_s", "crawl-extract"),
    "spark.shuffle_write_bytes": ("query_total_s", "analytics"),
    "queries.": ("query_total_s", "analytics"),
    "session.": ("setup_s", "all"),
    "engine.bootstrap_s": ("setup_s", "all"),
    "engine.warmup_s": ("setup_s", "all"),
}

