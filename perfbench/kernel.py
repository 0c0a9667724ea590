"""Direct calls into ``functions.textextract`` and ``functions.udfs`` on a
seeded sample of the workload's own pages, in the driver process — the
per-step cost of the extraction kernel and of its Arrow-batch wrapper."""

from __future__ import annotations

import time

import pandas as pd

from playwrightcrawler_spark import config
from playwrightcrawler_spark.functions import textextract as te
from playwrightcrawler_spark.functions import udfs, urltools


def kernel_row(raw: bytes, url: str):
    """(text, words, links, isopendir, opendir_pattern) of an html page,
    from the public textextract functions."""
    content = te.decode_html(raw)
    if not content:
        return "", [], [], False, ""
    parts, links = te.parse_html(content)
    text = " ".join(p for p in (t.strip() for t in parts) if p)[:config.MAX_WEBCONTENT_SIZE]
    flag, pat = te.is_open_directory(content, url)
    return text, te.top_words(" ".join(parts)), links, flag, pat


def step_costs(pages: list[tuple[str, bytes]]) -> dict[str, float]:
    """Mean ms per page for each kernel step, plus the bail and open-dir
    shares, over ``pages`` = [(url, html bytes)]."""
    t = {"decode": 0.0, "parse": 0.0, "text_join": 0.0, "top_words": 0.0, "open_dir": 0.0}
    bails = hits = 0
    clock = time.perf_counter
    for url, raw in pages:
        a = clock()
        content = te.decode_html(raw)
        b = clock()
        parts, _ = te.parse_html(content)
        c = clock()
        " ".join(p for p in (x.strip() for x in parts) if p)[:config.MAX_WEBCONTENT_SIZE]
        d = clock()
        te.top_words(" ".join(parts))
        e = clock()
        flag, _ = te.is_open_directory(content, url)
        f = clock()
        for k, (x, y) in zip(t, ((a, b), (b, c), (c, d), (d, e), (e, f))):
            t[k] += y - x
        bails += te.fast_scan_bailed(raw)
        hits += bool(flag)
    n = max(1, len(pages))
    out = {f"textextract.{k}_ms": 1000.0 * v / n for k, v in t.items()}
    out["textextract.page_ms"] = sum(out.values())
    out["textextract.fast_scan_bail_share"] = bails / n
    out["textextract.open_dir_hit_share"] = hits / n
    return out


def udf_costs(pages: list[tuple[str, bytes]], batch: int) -> dict[str, float]:
    """The pandas UDF bodies (``.func``) on Arrow-batch-sized inputs."""
    clock = time.perf_counter
    urls = [u for u, _ in pages]
    htmls = [h for _, h in pages]
    n, spent = 0, 0.0
    for i in range(0, len(pages), batch):
        u, h = pd.Series(urls[i:i + batch]), pd.Series(htmls[i:i + batch])
        a = clock()
        udfs.extract_all_routed.func(h, u, pd.Series(["html"] * len(u)))
        spent += clock() - a
        n += len(u)
    hrefs = [te.extract_links(h) for h in htmls]
    n_links = max(1, sum(len(x) for x in hrefs))
    a = clock()
    udfs.resolve_links.func(pd.Series(urls), pd.Series(hrefs))
    resolve = clock() - a
    absolute = pd.Series([urltools.resolve_link(u, x) for u, hs in zip(urls, hrefs) for x in hs])
    a = clock()
    udfs.canonicalize_url.func(absolute)
    canon = clock() - a
    return {
        "udfs.extract_batch_ms_per_page": 1000.0 * spent / max(1, n),
        "udfs.resolve_links_us_per_link": 1e6 * resolve / n_links,
        "udfs.canonicalize_us_per_link": 1e6 * canon / max(1, len(absolute)),
    }
