"""Unit tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
from pathlib import Path

import pytest

import corpus
import host
import spec
import spans
import stats

ROOT = Path(__file__).resolve().parents[2]


# ------------------------------------------------ tail percentile rule
@pytest.mark.parametrize("n, p", [(11, 9), (20, 50), (40, 75), (100, 90), (1000, 99)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    values = list(range(1, n + 1))
    got_p, got_v = stats.tail_percentile(values)
    assert got_p == p
    assert sum(v > got_v for v in values) >= 10
    # one percentile higher would leave fewer than ten beyond
    rank = -(-(p + 1) * n // 100)
    assert n - rank < 10


def test_tail_percentile_needs_more_than_ten_samples():
    assert stats.tail_percentile([1.0] * 10) is None
    assert stats.tail_percentile([]) is None


def test_tail_percentile_ignores_input_order():
    values = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 0, 11]
    assert stats.tail_percentile(values) == stats.tail_percentile(sorted(values))


# ----------------------------------------------- CPU levels and pairs
def test_levels_come_from_the_affinity_mask():
    assert host.available_cpus() == sorted(os.sched_getaffinity(0))


@pytest.mark.parametrize("avail, pair", [(1, None), (3, None), (4, (1, 4)),
                                         (7, (1, 4)), (8, (2, 8)), (32, (8, 32))])
def test_scaling_pair_is_largest_n_to_4n_that_fits(avail, pair):
    assert host.scaling_pair(avail) == pair
    if pair:
        assert pair[1] <= avail and (pair[0] + 1) * 4 > avail


def test_level_above_the_host_is_refused():
    assert host.check_level(None, 4) is None
    assert host.check_level(4, 4) is None
    assert host.check_level(1, 4) is None
    assert "refusing" in host.check_level(5, 4)
    assert "refusing" in host.check_level(0, 4)


# ------------------------------------------- CPU attribution to phases
def test_attribute_splits_cpu_by_window():
    times = [0.0, 1.0, 2.0, 3.0, 4.0]
    cpu = [0.0, 2.0, 4.0, 6.0, 8.0]          # two busy cores
    got = host.attribute(times, cpu, [("a", 0.0, 1.5), ("b", 1.5, 4.0), ("a", 3.5, 4.0)])
    assert got["a"] == pytest.approx(3.0 + 1.0)
    assert got["b"] == pytest.approx(5.0)


def test_attribute_clamps_outside_the_samples():
    got = host.attribute([1.0, 2.0], [5.0, 7.0], [("x", 0.0, 3.0)])
    assert got["x"] == pytest.approx(2.0)


def test_sampler_sees_this_process():
    s = host.Sampler(interval=0.01)
    with s:
        sum(i * i for i in range(200_000))
    assert s.peak_rss > 0
    assert s.cpu[-1] >= s.cpu[0]


def test_bytes_added_ignores_deleted_files():
    before = {"a": 10, "b": 5}
    after = {"a": 12, "c": 7}
    assert host.bytes_added(before, after) == 9


# ------------------------------------------------------------- spans
def test_self_time_subtracts_covered_child_time():
    sp = [
        {"id": 0, "name": "wave", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "name": "b", "parent": 0, "start": 2.0, "end": 5.0},
        {"id": 3, "name": "c", "parent": 0, "start": 7.0, "end": 8.0},
    ]
    st = spans.self_times(sp)
    assert st["wave"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st["b"] == pytest.approx(3.0)


def test_tracer_records_parents_and_run_id(tmp_path):
    tr = spans.Tracer(enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [s["parent"] for s in tr.spans] == [None, 0]
    assert {s["run"] for s in tr.spans} == {tr.run_id}
    tr.dump(tmp_path / "t.jsonl")
    assert len((tmp_path / "t.jsonl").read_text().splitlines()) == 2
    off = spans.Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


# ---------------------------------------------- metric names and units
E2E_NAMES = ["urls_per_s", "wave_s_p50", "warehouse_bytes_per_url", "query_total_s",
             "setup_s", "peak_rss_mb"]
_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
_UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def test_end_to_end_names_and_units_are_stable():
    assert [m[0] for m in spec.END_TO_END] == E2E_NAMES
    assert dict((m[0], m[1]) for m in spec.END_TO_END)["setup_s"] == "s"


def test_benchmark_json_matches_spec():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == \
        [tuple(m) for m in spec.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == \
        [tuple(m) for m in spec.PER_LAYER]
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(spec.WORKLOADS)


def test_metric_names_are_valid_and_unique():
    names = [m[0] for m in spec.END_TO_END] + [m[0] for m in spec.PER_LAYER]
    assert len(names) == len(set(names))
    for name, unit, better, *_ in spec.END_TO_END + spec.PER_LAYER:
        assert _NAME.match(name), name
        assert _UNIT.match(unit), unit
        assert better in ("higher", "lower")
    assert all(0 < m[3] <= 0.25 for m in spec.END_TO_END)


def test_layer_map_names_real_metrics_and_workloads():
    e2e = {m[0] for m in spec.END_TO_END}
    layer = [m[0] for m in spec.PER_LAYER]
    workloads = set(spec.WORKLOADS) | set(spec.EXTRA_WORKLOADS) | {"all"}
    for key, (metric, workload) in spec.LAYER_MAP.items():
        # a key ending in "." names every layer metric with that prefix
        assert any(n == key or (key.endswith(".") and n.startswith(key)) for n in layer), key
        assert metric in e2e and workload in workloads, key


# ---------------------------------------------------------- inputs
def test_generated_input_is_seeded(tmp_path):
    shape = {"pages": 8, "pages_per_host": 4, "mean_kb": 4, "files": 2}
    a, ia = corpus.cached(tmp_path / "a", "crawl-extract", 7, corpus.build_extract, shape)
    b, ib = corpus.cached(tmp_path / "b", "crawl-extract", 7, corpus.build_extract, shape)
    c, ic = corpus.cached(tmp_path / "c", "crawl-extract", 8, corpus.build_extract, shape)
    assert ia["digest"] == ib["digest"] != ic["digest"]
    again, info = corpus.cached(tmp_path / "a", "crawl-extract", 7, corpus.build_extract, shape)
    assert info["cache"] == "hit" and info["digest"] == ia["digest"]


def test_extract_pages_link_only_corpus_pages_and_their_dead_links(tmp_path):
    shape = {"pages": 8, "pages_per_host": 4, "mean_kb": 8, "files": 2}
    path, _ = corpus.cached(tmp_path, "crawl-extract", 3, corpus.build_extract, shape)
    import pyarrow.parquet as pq
    from urllib.parse import urljoin

    pages = set(corpus.extract_urls(shape))
    for row in pq.read_table(str(path)).to_pylist():
        hrefs = set(re.findall(r'<(?:a|link)\s[^>]*href="([^"]*)"', row["html"].decode()))
        hrefs |= set(re.findall(r'<(?:img|script)\s[^>]*\ssrc="([^"]*)"', row["html"].decode()))
        links = {urljoin(row["url"], h) for h in hrefs}
        assert all(corpus.clean_link(u) for u in links)
        # the links outside the corpus are exactly the page's dead links
        assert links - pages == corpus.extract_new_links(shape, {row["url"]})
        assert len(corpus.extract_new_links(shape, {row["url"]})) in (1, 2)


def test_clean_link_rejects_the_junk_links():
    import random
    from urllib.parse import urljoin

    host = corpus.discover_url(3, "")
    page = corpus.discover_url(3, "s1/page2.html")
    for seed in range(20):
        for j in corpus._junk_links(random.Random(seed), host):
            # a bare fragment resolves to the page itself
            assert j.startswith("#") or not corpus.clean_link(urljoin(page, j)), j
    assert corpus.clean_link(page)
    assert corpus.clean_link(corpus.extract_url(3, 2))


def test_untraced_median_reads_only_correct_untraced_runs(tmp_path):
    from common import Run

    (tmp_path / "results").mkdir()
    rows = [(0, True, 10.0), (0, True, 30.0), (0, False, 99.0), (1, True, 99.0), (0, True, 20.0)]
    with open(tmp_path / "results" / "crawl-extract.jsonl", "w") as fh:
        for trace, ok, v in rows:
            fh.write(json.dumps({"trace": trace, "correct": ok,
                                 "metrics": {"urls_per_s": {"value": v, "unit": "urls/s"}}}) + "\n")
    run = Run(workload="crawl-extract", seed=1, seconds=1, work=tmp_path, cpus=[0], pair=None,
              tracer=spans.Tracer(False), sampler=host.Sampler())
    assert run.untraced_median("urls_per_s") == 20.0
    assert Run(workload="analytics", seed=1, seconds=1, work=tmp_path, cpus=[0], pair=None,
               tracer=spans.Tracer(False), sampler=host.Sampler()).untraced_median("x") is None
