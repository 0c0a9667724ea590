"""Seeded inputs for the benchmark workloads.

Every input the engine sees is generated here from the workload seed, in
the ``input_hint`` pages schema (url, warc_ts, html, text, lang) for the
crawl workloads and in the TPC-H-ish + documents/embeddings schema of the
analytics queries. Generation is pure Python/numpy + pyarrow; only the
url-bucket column of the crawl-discover table needs the engine's own hash
(``pmod(xxhash64(url), N)``), which is computed through the Spark session.

Outputs are cached under the work directory, keyed by workload, seed and
shape. The content digest (sha256 over every data file, in path order) is
stored next to the data and re-verified on reuse, so two runs on one seed
provably read identical input files.
"""

from __future__ import annotations

import hashlib
import json
import random
import re
import shutil
from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

# Input sizes per workload. The names are part of the benchmark's record
# (BENCHMARK.json workload reasons quote them).
SHAPES = {
    "crawl-extract": {
        "pages": 240,           # 15 hosts x 16 pages
        "pages_per_host": 16,
        "mean_kb": 100,         # lognormal page size around this mean
        "files": 12,            # 20 pages per row-group file
    },
    "crawl-discover": {
        "pages": 8000,
        "hosts": 1000,          # Zipf-skewed pages per host
        "zipf_a": 1.1,
        "links": 28,            # anchors per html page
        "opendir_share": 0.05,
        "asset_share": 0.10,
        "url_buckets": 64,
        "seeds": 24,
    },
    "analytics": {
        "lineitem": 120_000,
        "orders": 30_000,
        "customer": 3_000,
        "events": 20_000,
        "event_users": 600,
        "documents": 500,
        "embeddings": 300,
        "dim": 64,
    },
}

_MARKER = "_PERFBENCH.json"


# --------------------------------------------------------------------- cache
def digest(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(root.rglob("*.parquet")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


# bumped whenever a generator changes what it writes for a given shape
GENERATOR_VERSION = 2


def _shape_key(shape: dict) -> str:
    key = json.dumps({"v": GENERATOR_VERSION, **shape}, sort_keys=True)
    return hashlib.sha256(key.encode()).hexdigest()[:10]


def cached(work: Path, workload: str, seed: int, build,
           shape: dict | None = None) -> tuple[Path, dict]:
    """Return (path, info) for the workload's input at ``seed`` and
    ``shape`` (default: the workload's), building it with
    ``build(path, seed, shape) -> dict`` when the cache is cold or its files
    no longer match the recorded digest."""
    shape = shape or SHAPES[workload]
    path = work / "corpus" / f"{workload}-s{seed}-{_shape_key(shape)}"
    marker = path / _MARKER
    if marker.exists():
        info = json.loads(marker.read_text())
        if digest(path) == info["digest"]:
            return path, {**info, "cache": "hit"}
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    extra = build(path, seed, shape)
    info = {"workload": workload, "seed": seed, "shape": shape,
            "digest": digest(path), **extra}
    marker.write_text(json.dumps(info, indent=1))
    return path, {**info, "cache": "miss"}


# ---------------------------------------------------------------- vocabulary
_SYLLABLES = ("ka ri to mu ne sa lo vi de pa ru shi ta go be ni fa zo "
              "ler ton mar ven dis gal cor pin sel tra qui bor").split()


def _vocab(rng: random.Random, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(1, 4))))
    return sorted(words)


def _zipf_weights(n: int, a: float = 1.05) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** a
    return w / w.sum()


def _paragraph_pool(rng: random.Random, nprng, n: int, vocab: list[str]) -> list[str]:
    """Reusable paragraphs (~600 B each): Zipf word frequencies, some
    punctuation and capitalised words so top_words' normalisation works."""
    p = _zipf_weights(len(vocab))
    pool = []
    for _ in range(n):
        words = [vocab[i] for i in nprng.choice(len(vocab), size=rng.randint(70, 110), p=p)]
        words[0] = words[0].capitalize()
        for j in range(8, len(words), rng.randint(9, 14)):
            words[j] += rng.choice((",", ".", ";", ":", "!"))
        pool.append(" ".join(words) + ".")
    return pool


def _write_pages(rows: list[dict], path: Path, files: int) -> None:
    per = max(1, -(-len(rows) // files))
    for i in range(0, len(rows), per):
        chunk = rows[i:i + per]
        table = pa.table({f.name: [r[f.name] for r in chunk] for f in PAGES_SCHEMA},
                         schema=PAGES_SCHEMA)
        pq.write_table(table, path / f"part-{i // per:05d}.parquet")


# --------------------------------------------------------------- crawl-extract
def extract_url(h: int, k: int) -> str:
    return f"https://site{h:04d}.extract-bench.org/a/p{k}.html"


def extract_dead_links(shape: dict, h: int, k: int) -> list[str]:
    """The two links of page (h, k) that point outside the corpus: pages
    that do not exist, so they are new to the frontier when first seen and
    missing when fetched. Shared across the pages of a host, so a wave
    discovers each at most once."""
    pph = shape["pages_per_host"]
    return [f"https://site{h:04d}.extract-bench.org/missing/m{j}.html"
            for j in sorted({k, (5 * k + 3) % pph})]


def _css(rng: random.Random, n_rules: int) -> str:
    props = ("margin", "padding", "color", "font-size", "line-height", "border",
             "display", "max-width", "background", "letter-spacing")
    rules = []
    for i in range(n_rules):
        decl = ";".join(f"{rng.choice(props)}:{rng.randrange(1, 40)}px"
                        for _ in range(rng.randint(2, 6)))
        rules.append(f".c-{rng.choice(_SYLLABLES)}{i}>.c-{rng.choice(_SYLLABLES)}{{{decl}}}")
    return "".join(rules)


def _js(rng: random.Random, n_stmts: int) -> str:
    names = [f"{rng.choice(_SYLLABLES)}{rng.choice(_SYLLABLES)}{i}" for i in range(40)]
    out = []
    for i in range(n_stmts):
        a, b = rng.sample(names, 2)
        out.append(f"function {a}_{i}(e,t){{var n=e&&e.{b}||{rng.randrange(999)};"
                   f"return t?n+\"{a}\":{b}(n,{rng.randrange(9)})}}")
    return ";".join(out)


def build_extract(path: Path, seed: int, shape: dict) -> dict:
    """~100 KB article pages of the markup weight of real pages: nested
    layout wrappers, inline CSS and scripts, lazy images (``data-src``, no
    fetchable src) and navigation menus, around Zipf-worded paragraphs. Text
    is about a third of the bytes. Every link points at another corpus page
    except the two dead links per page of ``extract_dead_links``."""
    rng = random.Random(seed)
    nprng = np.random.default_rng(seed)
    vocab = _vocab(rng, 3000)
    pool = _paragraph_pool(rng, nprng, 400, vocab)
    css, js = _css(rng, 90), _js(rng, 70)       # ~5 KB, ~8 KB, shared per corpus
    pph = shape["pages_per_host"]
    n_hosts = shape["pages"] // pph
    mean = shape["mean_kb"] * 1024
    sizes = nprng.lognormal(0.0, 0.35, size=shape["pages"])
    sizes = np.clip(sizes / sizes.mean() * mean, 20_000, 300_000).astype(int)
    rows = []
    for i in range(shape["pages"]):
        h, k = divmod(i, pph)
        nav = "".join(f'<li class="c-nav__item"><a class="c-nav__link" href="/a/p{j}.html" '
                      f'data-track="nav-{j}">Section {j}</a></li>'
                      for j in range(min(pph, 12)) if j != k)
        related = "".join(
            f'<li class="c-rel__item"><a class="c-rel__link" href="{extract_url(rng.randrange(n_hosts), rng.randrange(pph))}">'
            f'{" ".join(rng.sample(vocab, 3))}</a></li>' for _ in range(8))
        dead = "".join(f'<a class="c-foot__link" href="{u}">archive</a>'
                       for u in extract_dead_links(shape, h, k))
        head = (f'<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">'
                f'<meta name="viewport" content="width=device-width,initial-scale=1">'
                f'<meta name="description" content="{" ".join(rng.sample(vocab, 12))}">'
                f'<meta property="og:title" content="Article {k} of site {h}">'
                f"<title>Article {k} of site {h}</title><style>{css}</style>"
                f'<script>window.__cfg={{"page":{i},"site":{h},"ab":"{rng.randrange(16**6):06x}"}};{js}</script>'
                f'</head><body class="t-article s-{h}"><header class="c-header"><div class="c-header__inner">'
                f'<nav class="c-nav" aria-label="main"><ul class="c-nav__list">{nav}</ul></nav></div></header>'
                f'<main class="c-main"><div class="l-row"><div class="l-col l-col--8"><article class="c-article">'
                f'<h1 class="c-article__title">Article {k} on site{h:04d}</h1>')
        tail = (f'</article></div><aside class="l-col l-col--4"><ul class="c-rel">{related}</ul></aside>'
                f'</div></main><footer class="c-foot"><div class="c-foot__inner">{dead}'
                f'<p class="c-foot__copy">site{h:04d} {2000 + h % 25}</p></div></footer>'
                f"<script>{js[:3000]}</script></body></html>")
        body, size = [], len(head) + len(tail)
        while size < sizes[i]:
            b = len(body)
            words = pool[rng.randrange(len(pool))].split()
            para = " ".join(words[:rng.randint(25, 50)])
            r = rng.random()
            inner = f'<p class="c-text c-text--{b % 3}">{para} item{i}x{b}</p>'
            if r < 0.4:
                inner = (f'<figure class="c-media c-media--wide" data-block="{b}"><picture class="c-media__pic">'
                         f'<source type="image/webp" data-srcset="/img/{i}-{b}-480.webp 480w,/img/{i}-{b}-960.webp 960w">'
                         f'<img class="c-media__img lazy" data-src="/img/{i}-{b}.jpg" alt="{" ".join(rng.sample(vocab, 4))}" '
                         f'width="{rng.randrange(300, 1200)}" height="{rng.randrange(200, 800)}"></picture>'
                         f'<figcaption class="c-media__cap">{" ".join(rng.sample(vocab, 6))}</figcaption></figure>'
                         + inner)
            elif r < 0.65:
                inner += (f'<div class="c-ad" data-slot="{b}"><script>window.__ads=window.__ads||[];'
                          f'__ads.push({{"slot":{b},"size":[{rng.choice((300, 728))},{rng.choice((90, 250))}],'
                          f'"k":"{rng.randrange(16**8):08x}"}});</script></div>')
            elif r < 0.75:
                inner += (f'<p class="c-inline">See <a class="c-inline__link" '
                          f'href="{extract_url(rng.randrange(n_hosts), rng.randrange(pph))}">'
                          f'{" ".join(rng.sample(vocab, 3))}</a>.</p>')
            body.append(f'<section class="c-block c-block--{r < 0.5:d}" data-block-id="{i}-{b}">'
                        f'<div class="c-block__inner"><div class="c-block__body">{inner}</div></div></section>')
            size += len(body[-1])
        html = (head + "".join(body) + tail).encode()
        rows.append({"url": extract_url(h, k), "warc_ts": _EPOCH + timedelta(seconds=i),
                     "html": html, "text": "", "lang": "en"})
    _write_pages(rows, path, shape["files"])
    return {"rows": len(rows), "html_bytes": int(sum(len(r["html"]) for r in rows)),
            "hosts": n_hosts}


def extract_new_links(shape: dict, crawled: set[str]) -> set[str]:
    """The URLs a wave over ``crawled`` pages must add to a frontier that
    was bootstrapped with every page: the dead links of those pages."""
    out = set()
    for url in crawled:
        m = _EXTRACT_URL.match(url)
        if m:
            out.update(extract_dead_links(shape, int(m[1]), int(m[2])))
    return out


_EXTRACT_URL = re.compile(r"^https://site(\d{4})\.extract-bench\.org/a/p(\d+)\.html$")
# every URL the generators link to on purpose; the junk links of
# crawl-discover (schemes, malformed, blocked or over-long URLs, query
# strings, repeated segments) and open-directory entries match none
_CLEAN_LINK = re.compile(
    r"^https://(?:site\d{4}\.extract-bench\.org/(?:a/p\d+|missing/m\d+)\.html"
    r"|h\d{4}\.discover-bench\.net/(?:s\d/page\d+\.html|files/d\d+/"
    r"|static/a\d+\.(?:png|pdf|js|zip)|missing/\d+\.html))$")


def clean_link(url: str) -> bool:
    """True for a link the crawl must carry into the frontier."""
    return bool(_CLEAN_LINK.match(url))


def extract_urls(shape: dict) -> list[str]:
    pph = shape["pages_per_host"]
    return [extract_url(*divmod(i, pph)) for i in range(shape["pages"])]


# -------------------------------------------------------------- crawl-discover
_ASSETS = (
    (".png", b"\x89PNG\r\n\x1a\n" + b"\x00" * 96),
    (".pdf", b"%PDF-1.7 perfbench asset\n" + b"0" * 64),
    (".js", b"function perfbench(){return 42;}\n"),
    (".zip", b"PK\x03\x04" + b"\x00" * 64),
)


def discover_url(h: int, path: str) -> str:
    return f"https://h{h:04d}.discover-bench.net/{path}"


def _junk_links(rng: random.Random, host_url: str) -> list[str]:
    """Malformed, blocked and non-crawlable links the hygiene pipeline drops."""
    return rng.sample([
        "javascript:void(0)",
        "mailto:team@discover-bench.net",
        "data:image/png;base64,AAAA",
        "htpps://typo.discover-bench.net/x",
        "https://www.gstatic.com/asset.js",
        f"{host_url}images/images/images/images/x.html",
        f"{host_url}lib/lib/lib/lib/lib/lib/x.css",
        f"{host_url}" + "y" * 4200,
        "#top",
        "?page=2&sort=asc",
    ], 3)


def build_discover(path: Path, seed: int, shape: dict, spark) -> dict:
    """Few-KB, link-dense pages over Zipf-sized hosts, with open-directory
    listings, non-HTML assets, junk links and dead links; hive-partitioned
    by the engine's url bucket so wave-membership pruning applies."""
    from pyspark.sql import functions as F

    from playwrightcrawler_spark.sources import pages_gen

    rng = random.Random(seed)
    nprng = np.random.default_rng(seed)
    vocab = _vocab(rng, 1500)
    pool = _paragraph_pool(rng, nprng, 200, vocab)
    hosts = shape["hosts"]
    host_p = _zipf_weights(hosts, shape["zipf_a"])
    per_host = np.maximum(1, np.round(host_p * shape["pages"])).astype(int)
    # page paths per host: html articles, listing dirs, assets
    urls: list[tuple[int, str, str]] = []
    for h in range(hosts):
        for k in range(per_host[h]):
            r = rng.random()
            if r < shape["opendir_share"]:
                urls.append((h, f"files/d{k}/", "opendir"))
            elif r < shape["opendir_share"] + shape["asset_share"]:
                ext, _ = _ASSETS[k % len(_ASSETS)]
                urls.append((h, f"static/a{k}{ext}", "asset"))
            else:
                urls.append((h, f"s{k % 7}/page{k}.html", "html"))
    html_idx = [i for i, u in enumerate(urls) if u[2] != "asset"]
    host_pages: dict[int, list[int]] = {}
    for i, (h, _, _) in enumerate(urls):
        host_pages.setdefault(h, []).append(i)
    rows = []
    for i, (h, p, kind) in enumerate(urls):
        url = discover_url(h, p)
        if kind == "asset":
            body = dict(_ASSETS)[p[p.rfind("."):]]
        elif kind == "opendir":
            entries = "\n".join(
                f'<a href="f{j}.bin">f{j}.bin</a>   2025-01-0{1 + j % 9} 10:0{j % 10}  {j}K'
                for j in range(rng.randint(3, 8)))
            body = (f"<html><head><title>Index of /{p}</title></head><body>"
                    f"<h1>Index of /{p}</h1><pre>"
                    f'<a href="../">Parent Directory</a>\n{entries}</pre></body></html>').encode()
        else:
            links = []
            for _ in range(shape["links"]):
                r = rng.random()
                if r < 0.55:
                    j = html_idx[int(nprng.integers(len(html_idx)))]
                    links.append(discover_url(urls[j][0], urls[j][1]))
                elif r < 0.75:
                    j = rng.choice(host_pages[h])
                    links.append("/" + urls[j][1])
                elif r < 0.85:
                    links.append(f"/missing/{rng.randrange(10**6)}.html")
                else:
                    links.append(discover_url(rng.randrange(hosts), f"s{rng.randrange(7)}/page{rng.randrange(40)}.html"))
            links += _junk_links(rng, discover_url(h, ""))
            rng.shuffle(links)
            anchors = "".join(f'<li><a href="{u}">l{j}</a></li>' for j, u in enumerate(links))
            paras = "".join(f"<p>{pool[rng.randrange(len(pool))]}</p>" for _ in range(rng.randint(2, 5)))
            body = (f"<!DOCTYPE html><html><head><title>Page {p} of h{h}</title></head><body>"
                    f"<h2>h{h} {p}</h2>{paras}<ul>{anchors}</ul></body></html>").encode()
        rows.append({"url": url, "warc_ts": _EPOCH + timedelta(seconds=i), "html": body,
                     "text": "", "lang": "en"})
    # the engine prunes by pmod(xxhash64(url), N): ask Spark for the buckets
    n_b = shape["url_buckets"]
    bucket_of = {
        r["url"]: r["b"]
        for r in spark.createDataFrame([(r["url"],) for r in rows], "url string")
        .select("url", F.pmod(F.xxhash64("url"), F.lit(n_b)).cast("int").alias("b"))
        .collect()
    }
    by_bucket: dict[int, list[dict]] = {}
    for r in rows:
        by_bucket.setdefault(bucket_of[r["url"]], []).append(r)
    for b, chunk in sorted(by_bucket.items()):
        d = path / f"url_bucket={b}"
        d.mkdir()
        _write_pages(chunk, d, 1)
    pages_gen.write_bucket_marker(str(path), n_b)
    seeds = [discover_url(h, urls[host_pages[h][0]][1]) for h in range(shape["seeds"])]
    (path / "_seeds.json").write_text(json.dumps(seeds))
    return {"rows": len(rows), "html_bytes": int(sum(len(r["html"]) for r in rows)),
            "hosts": hosts, "largest_host_pages": int(per_host.max()),
            "opendir_pages": sum(u[2] == "opendir" for u in urls),
            "asset_pages": sum(u[2] == "asset" for u in urls)}


# ------------------------------------------------------------------- analytics
_LANG_WORDS = {
    "en": "the and of to is in that it for was on are with as",
    "fr": "le la les et des est une que pour dans sur pas",
    "de": "der die und das ist nicht ein eine mit auf den von",
    "es": "el la los las y que es en por una con para",
}
_TOPIC = ("batch part spark line column order small sort fast value scan hash "
          "slow group agg filter query big key window row table stream merge "
          "data join vector customer").split()


def _docs(rng: random.Random, n: int) -> pa.Table:
    texts, langs = [], []
    for _ in range(n):
        lang = rng.choices(("en", "fr", "de", "es", "zh"), (4, 1.5, 1.5, 1.5, 1.5))[0]
        vocab = _TOPIC + (_LANG_WORDS[lang].split() if lang != "zh" else ["数据", "查询", "表格"])
        words = [rng.choice(vocab) for _ in range(rng.randint(8, 70))]
        texts.append(" ".join(words))
        langs.append(lang)
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def build_analytics(path: Path, seed: int, shape: dict) -> dict:
    """The tables the 14 headline queries read, at a reduced scale factor,
    with the column names, types and value domains of the sf testdata."""
    rng = random.Random(seed)
    g = np.random.default_rng(seed)
    base = np.datetime64("1992-01-01T00:00:00", "us")
    day = np.timedelta64(86_400_000_000, "us")

    def ts(days):
        return pa.array(base + (days * day).astype("timedelta64[us]"), pa.timestamp("us"))

    nc, no, nl = shape["customer"], shape["orders"], shape["lineitem"]
    tables = {
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(1, nc + 1), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
            "c_nationkey": pa.array(g.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(g.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": g.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(1, no + 1), pa.int64()),
            # two thirds of customers order, the rest feed seen_anti_join
            "o_custkey": pa.array(g.integers(1, nc * 2 // 3 + 1, no), pa.int64()),
            "o_orderstatus": g.choice(["F", "O", "P"], no),
            "o_totalprice": np.round(g.uniform(850.0, 500_000.0, no), 2),
            "o_orderdate": ts(g.integers(0, 2400, no)),
            "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(g.integers(1, no + 1, nl), pa.int64()),
            "l_partkey": pa.array(g.integers(1, 20_001, nl), pa.int64()),
            "l_suppkey": pa.array(g.integers(1, 1_001, nl), pa.int64()),
            "l_linenumber": pa.array(g.integers(1, 8, nl), pa.int32()),
            "l_quantity": g.integers(1, 51, nl).astype(float),
            "l_extendedprice": np.round(g.uniform(900.0, 105_000.0, nl), 2),
            "l_discount": np.round(g.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(g.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": g.choice(["A", "N", "R"], nl),
            "l_linestatus": g.choice(["F", "O"], nl),
            "l_shipdate": ts(g.integers(0, 2500, nl)),
        }),
    }
    ne = shape["events"]
    ev_ts = np.sort(g.integers(0, 90 * 86_400_000_000, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ev_ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, shape["event_users"], ne), pa.int64()),
        "event_type": g.choice(["click", "view", "purchase", "signup", "error"], ne),
        "value": np.round(g.uniform(0, 200, ne), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, ne)],
    })
    tables["documents"] = _docs(rng, shape["documents"])
    nv, dim = shape["embeddings"], shape["dim"]
    centers = g.normal(size=(10, dim))
    labels = g.integers(0, 10, nv)
    vecs = (centers[labels] + 0.6 * g.normal(size=(nv, dim))).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, t in tables.items():
        pq.write_table(t, path / f"{name}.parquet")
    return {"rows": {k: t.num_rows for k, t in tables.items()}}
