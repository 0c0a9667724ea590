"""Physical-plan audits (SURVEY.md §4): pushdown, pruning, broadcast,
Arrow-only python, bounded shuffles. These tests fail when a regression
turns a designed plan into an accidental one."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from playwrightcrawler_spark.plans import audit


def test_filter_pushdown_and_pruning(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_quantity")
    )
    pushed = audit.pushed_filters(df)
    assert any("l_quantity" in p for p in pushed), pushed
    cols = audit.read_schema_columns(df)
    assert cols == {"l_orderkey", "l_quantity"}, cols


def test_fetch_join_is_broadcast(spark, pages_dir):
    """The wave⋈pages join must broadcast the wave side — a shuffled pages
    table is the #1 scale failure for this engine."""
    pages = spark.read.parquet(pages_dir).select("url", "html")
    wave = spark.createDataFrame(
        [(f"https://seed{i}.example.org/",) for i in range(4)], "url string"
    )
    joined = pages.join(F.broadcast(wave), "url", "inner")
    assert audit.has_broadcast_join(joined)
    assert audit.shuffle_count(joined) == 0


def test_python_workers_are_reused(spark, monkeypatch):
    """Daemon python workers must be reused across tasks (round-4 verdict
    #6): with reuse off every task re-pays fork + numpy/pandas import,
    which lands inside the timed wave at high core counts. The Arrow
    batch, scan split size and open cost are constants, and shuffle
    partitions default to max(cores, 8): the environment variables that
    once overrode them are set here and must change nothing. Asserted on
    the effective session conf, not the builder arg."""
    from playwrightcrawler_spark.session import get_spark

    removed = {
        "ARROW_BATCH": "3", "MAX_PARTITION_BYTES": "3", "OPEN_COST_BYTES": "3",
        "SHUFFLE_PARTITIONS": "3",
        "EXTRA_CONF": "spark.sql.execution.arrow.maxRecordsPerBatch=3",
    }
    for var, val in removed.items():
        monkeypatch.setenv(f"SPARK_GRAFT_{var}", val)
    s = get_spark(cores=4)
    assert s.conf.get("spark.python.worker.reuse") == "true"
    assert s.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "256"
    assert s.conf.get("spark.sql.files.maxPartitionBytes") == str(4 * 1024 * 1024)
    assert s.conf.get("spark.sql.files.openCostInBytes") == str(512 * 1024)
    assert s.conf.get("spark.sql.shuffle.partitions") == str(max(4, 8))


def test_extraction_is_arrow_vectorized(spark, pages_dir):
    from playwrightcrawler_spark.functions import udfs

    pages = spark.read.parquet(pages_dir)
    out = udfs.with_extraction(pages, "html", "url")
    plan = audit.physical_plan(out)
    assert "ArrowEvalPython" in plan
    assert audit.uses_arrow_udfs_only(out)
    # fused kernel: exactly one python eval node for all five outputs
    assert plan.count("ArrowEvalPython") == 1


def test_routing_stays_jvm_side(spark, pages_dir):
    from playwrightcrawler_spark.functions import routing, sniff, sqlfns

    pages = spark.read.parquet(pages_dir)
    routed = (
        pages.withColumn("ext", sqlfns.file_extension(sqlfns.path_of(F.col("url"))))
        .withColumn("ct", sniff.sniff_content_type(F.col("html"), F.col("ext")))
        .withColumn("route", routing.route_col(routing.sanitize_content_type_col(F.col("ct"))))
        .select("url", "route")
    )
    plan = audit.physical_plan(routed)
    assert "EvalPython" not in plan  # no python in the routing path
    assert audit.wholestage_codegen_ids(routed) >= 1  # codegen compiled


def test_pricing_summary_single_shuffle(spark, sf_dir):
    from playwrightcrawler_spark.queries import q_pricing_summary

    df = q_pricing_summary(spark, sf_dir)
    # one shuffle for the groupBy — partial aggregation must be present
    assert audit.shuffle_count(df) == 1
    assert "partial" in audit.physical_plan(df).lower()


def test_topk_uses_take_ordered(spark, sf_dir):
    from playwrightcrawler_spark.queries import q_embedding_topk

    df = q_embedding_topk(spark, sf_dir)
    assert "TakeOrderedAndProject" in audit.physical_plan(df)


def test_bucketed_lsh_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """Round-4 verdict #4: persisting the corpus hive-partitioned by
    hyperplane bucket turns the probe filter into partition pruning — the
    probe scan must (a) carry the bucket predicate as a PartitionFilter,
    (b) open only the probed buckets' files, a strict subset of the
    table, and (c) return exactly what the recompute-per-query lsh_topk
    returns on the same corpus."""
    import pyspark.sql.functions as F

    from playwrightcrawler_spark.operators import similarity

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    path = str(tmp_path / "emb_buckets")
    similarity.write_bucketed_signatures(emb, path, bits=8, seed=42)

    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    probed = similarity.lsh_topk_bucketed(
        spark, path, qvec, k=20, bits=8, multiprobe=2
    )

    # (a) pruning predicate reaches the source as a partition filter
    pf = " ".join(audit.partition_filters(probed))
    assert "bucket" in pf and pf.count("IN") >= 1, pf

    # (b) the probe opens a strict subset of the table's files
    probe_scan = spark.read.parquet(path).filter(
        F.col("bucket").isin(similarity.probe_set(qvec, bits=8, seed=42, multiprobe=2))
    )
    files_read = {
        r[0] for r in probe_scan.select(F.input_file_name()).distinct().collect()
    }
    all_files = {
        r[0]
        for r in spark.read.parquet(path)
        .select(F.input_file_name()).distinct().collect()
    }
    assert files_read and files_read < all_files, (
        f"probe read {len(files_read)}/{len(all_files)} files"
    )
    # multiprobe=2 over 8 bits probes 37/256 buckets — the read fraction
    # must be in that ballpark, not "most of the table"
    assert len(files_read) <= max(1, len(all_files) // 2)

    # (c) identical answer to the recompute-per-query path
    recompute = similarity.lsh_topk(emb, qvec, k=20, bits=8, multiprobe=2)
    assert [tuple(r) for r in probed.collect()] == [
        tuple(r) for r in recompute.collect()
    ]


def test_bucketed_pages_wave_scan_prunes(spark, tmp_path):
    """Round-5 verdict #2: a pages table hive-partitioned by
    pmod(xxhash64(url), N) lets each wave push its bucket membership into
    the scan — (a) the predicate reaches the source as a PartitionFilter,
    (b) the wave opens a strict subset of the table's files, and (c) the
    fused fetch+extract output is identical to the unbucketed path."""
    from playwrightcrawler_spark.crawl.engine import CrawlEngine
    from playwrightcrawler_spark.sources import pages_gen

    kw = dict(n_hosts=40, pages_per_host=5, paragraphs=2,
              include_assets=False, next_links=2)
    bucketed = str(tmp_path / "pages_bucketed")
    flat = str(tmp_path / "pages_flat")
    pages_gen.write_pages_scaled(spark, bucketed, url_buckets=16, **kw)
    pages_gen.write_pages_scaled(spark, flat, **kw)

    wave_urls = [
        "https://host00003.bench.example/p1.html",
        "https://host00017.bench.example/p0.html",
        "https://host00031.bench.example/p4.html",
    ]
    wave = (
        spark.createDataFrame([(u,) for u in wave_urls], "url string")
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("host", F.lit("h"))
        .withColumn("depth", F.lit(0))
        .withColumn("discovered_at", F.current_timestamp())
    )

    eng_b = CrawlEngine(spark, bucketed, str(tmp_path / "wh_b"),
                        method_weights={"oldest": 1})
    eng_f = CrawlEngine(spark, flat, str(tmp_path / "wh_f"),
                        method_weights={"oldest": 1})
    assert eng_b._url_buckets == 16 and eng_f._url_buckets is None

    fetched_b = eng_b._fused_fetch_extract(wave)

    # (a) the bucket predicate is a PartitionFilter on the pages scan
    pf = " ".join(audit.partition_filters(fetched_b))
    assert "url_bucket" in pf and "IN" in pf, pf
    # the broadcast shape survives the pruning filter
    assert audit.has_broadcast_join(fetched_b)
    assert audit.shuffle_count(fetched_b) == 0

    # (b) strict-subset file reads: 3 urls hit <= 3 of 16 buckets
    wave_buckets = [
        r[0] for r in wave.select(
            F.pmod(F.xxhash64("url"), F.lit(16)).cast("int").alias("b")
        ).distinct().collect()
    ]
    pruned = spark.read.parquet(bucketed).filter(F.col("url_bucket").isin(wave_buckets))
    files_read = {r[0] for r in pruned.select(F.input_file_name()).distinct().collect()}
    all_files = {
        r[0] for r in spark.read.parquet(bucketed)
        .select(F.input_file_name()).distinct().collect()
    }
    assert files_read and files_read < all_files, (
        f"wave read {len(files_read)}/{len(all_files)} files"
    )
    assert len(files_read) <= max(1, len(all_files) // 2)

    # (c) identical extraction results to the unbucketed scan
    cols = ["url", "route", "text_extracted", "isopendir"]
    got = sorted(tuple(r) for r in fetched_b.select(cols).collect())
    want = sorted(
        tuple(r)
        for r in eng_f._fused_fetch_extract(wave).select(cols).collect()
    )
    assert got == want and len(got) == len(wave_urls)


def test_near_dup_plan_has_no_cartesian(spark, sf_dir):
    """The exposed embedding_near_dup must be the LSH-banded equi-join —
    never a cross join (the brute-force all-pairs form lives only in the
    DuckDB oracle)."""
    from playwrightcrawler_spark.queries import q_embedding_near_dup

    plan = audit.physical_plan(q_embedding_near_dup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
