"""Workload ``ingest``: the write path, and the first queries on what it wrote.

Set-up: a seeded FIXTURES corpus of N_DOCS docs written as parquet.
Timed: ``build_index`` over the corpus (non-positional) in the fresh
session, then one ``search()`` per query class on a newly opened
``SearchEngine(preload=False)``. There is no warm-up build: the build
pays the JVM's first-run compilation, as a freshly submitted indexing
job does. The query sweep shows a layout change that slows reads.
Checks (untimed): every sweep answer against ``oracle.BruteForceBM25``.

Traced runs only: after the measured part, one ``apply_upsert`` of a
seeded delta of 1% of the corpus (half edits, half new urls, a few
null-text rows for omit-nil; every text row carries a marker token),
then a newly opened engine probes for the marker. One upsert costs tens
of seconds on a 4-core host, more than an untraced run can spend.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

import common
from checks import compare_with_oracle
from micce_search_engine_spark.corpus import STOPWORDS, gen_pages, gen_synonyms, pages_spark_schema
from micce_search_engine_spark.operators.index_build import build_index
from micce_search_engine_spark.operators.query import SearchEngine
from micce_search_engine_spark.operators.upsert import apply_upsert
from micce_search_engine_spark.oracle import BruteForceBM25
from tracing import parse_event_log, put_query_metrics

N_DOCS = 10_000
NULL_TEXT_ROWS = 4
#: index settings sized for a 10k-doc index: bench.py's warm-up build
#: bucket count, and one url bucket per ~1,250 docs
BUILD_KW = {"n_buckets": 8, "url_buckets": 8, "max_postings_per_row": 200_000}
SYNONYMS = dict(gen_synonyms())


def _pages_df(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf, schema=pages_spark_schema())


def search_cases(seed: int, sweeps: int = 1) -> list[tuple[str, str, str | None, int, int]]:
    """``sweeps`` sweeps of one seeded (class, query, lang, limit, page)
    per query class."""
    rng = np.random.default_rng([seed, 11])

    def word(lo, hi):
        return f"w{int(rng.integers(lo, hi)):06d}"

    out = []
    for _ in range(sweeps):
        out += [
            ("head", str(rng.choice(STOPWORDS[:3])), None, 10, 1),
            # Zipf ranks 2,000-8,000 of the 50k vocab: df well under 100
            ("tail", word(2000, 8000), None, 10, 1),
            ("and2", f"{word(10, 300)} {word(10, 300)}", None, 10, 1),
            ("multi", " ".join(word(10, 300) for _ in range(int(rng.integers(3, 5)))), None, 10, 1),
            ("synonym", f"alias{int(rng.integers(0, 50))}", None, 10, 1),
            ("lang", word(0, 10), str(rng.choice(["ja", "ko", "de"])), 10, 1),
            ("deep_page", word(10, 300), None, 20, 3),
        ]
    return out


def _delta(seed: int, pages: pd.DataFrame, n_docs: int):
    """The seeded delta: (update rows, marker token, expected hits)."""
    rng = np.random.default_rng([seed, 1])
    m = max(n_docs // 100, 2 * NULL_TEXT_ROWS)
    n_new = m // 2
    n_edit = m - n_new - NULL_TEXT_ROWS
    marker = f"mk{seed}x"
    picked = rng.choice(len(pages), size=n_edit + NULL_TEXT_ROWS, replace=False)
    urls = pages["url"].to_numpy()[picked]
    fresh = gen_pages(n_edit + n_new, seed=seed + 1, start=n_docs)
    texts = [f"{t or ''} {marker}" for t in fresh["text"]]
    rows = [(u, texts[k], None) for k, u in enumerate(urls[:n_edit])]
    rows += [(u, None, "de") for u in urls[n_edit:]]
    rows += [
        (f"https://delta.example/s{seed}/page{k}", texts[n_edit + k], "en")
        for k in range(n_new)
    ]
    return rows, marker, n_edit + n_new


def _file_state(root: str) -> dict[str, tuple]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def run(ctx) -> None:
    spark, tr, res = ctx.spark, ctx.tracer, ctx.result
    pdf = gen_pages(N_DOCS, seed=ctx.seed)
    ctx.texts = list(pdf["text"])
    corpus = os.path.join(ctx.run_dir, "corpus")
    _pages_df(spark, pdf).repartition(8).write.parquet(corpus)
    pages = spark.read.parquet(corpus)
    idx = os.path.join(ctx.run_dir, "index")

    ctx.setup_done()
    common.log("build")
    t0 = time.perf_counter()
    with tr.span("operators.index_build", rid="build", group="build"):
        build_index(spark, pages, idx, **BUILD_KW)
    build_s = time.perf_counter() - t0
    res.op(True)
    res.put("bulk_per_s", N_DOCS / build_s, "1/s")

    common.log("query sweep")
    eng = SearchEngine(spark, idx, synonyms=SYNONYMS)
    cases = search_cases(ctx.seed)
    answers, lat = [], []
    for cls, q, lang, limit, page in cases:
        t0 = time.perf_counter()
        with tr.span("operators.query", rid=cls, group=f"search:{cls}"):
            got = eng.search(q, lang_filter=lang, limit=limit, page=page)
        lat.append(time.perf_counter() - t0)
        answers.append(got)
    # the mean, not the median: the 7 classes fall in a fast and a slow
    # group, and a median of 7 sits on the edge between them
    res.put("latency_ms", sum(lat) / len(lat) * 1000.0, "ms")
    common.log("searches: " + ", ".join(f"{c[0]}={el:.2f}s" for c, el in zip(cases, lat)))
    res.put("cache_mb", common.storage_mb(spark), "MB")
    res.put(
        "index_bytes_per_text_byte", common.du_bytes(idx) / common.text_bytes(pdf["text"]), "ratio"
    )
    if ctx.trace:
        ctx.build_s = build_s
        ctx.sweep_s = sum(lat)
        facts = common.index_facts(idx)
        for k in ("s1_tokenize_s", "s2_stats_s", "s3_segments_s", "postings", "segments_mb", "positions_mb"):
            ctx.layer(f"index_build.{k}", facts[k])
        stages = facts["s1_tokenize_s"] + facts["s2_stats_s"] + facts["s3_segments_s"]
        ctx.layer("index_build.unaccounted_s", build_s - stages)
        for (cls, *_q), el in zip(cases, lat):
            ctx.layer(f"query.search_ms.{cls}", el * 1000.0)
    eng._term_stats.unpersist()

    common.log("checks")
    oracle = BruteForceBM25(pdf)
    for (cls, q, lang, limit, page), got in zip(cases, answers):
        problem = compare_with_oracle(got, oracle, q, lang, limit, page, synonyms=SYNONYMS)
        res.op(problem is None, f"{cls} query {q!r}: {problem}")
    if ctx.trace:
        _traced_upsert(ctx, pdf, idx)


def _traced_upsert(ctx, pdf: pd.DataFrame, idx: str) -> None:
    spark, tr, res = ctx.spark, ctx.tracer, ctx.result
    common.log("delta")
    rows, marker, expect = _delta(ctx.seed, pdf, N_DOCS)
    urls = {r[0] for r in rows}
    # the O(delta) call shape: old pages cover just the delta's urls
    old_df = _pages_df(spark, pdf[pdf["url"].isin(urls)])
    upd_df = spark.createDataFrame(rows, "url string, text string, lang string")
    before = _file_state(idx)
    t0 = time.perf_counter()
    with tr.span("operators.upsert", rid="delta", group="upsert"):
        apply_upsert(spark, idx, old_df, upd_df)
    t1 = time.perf_counter()
    with tr.span("operators.query", rid="delta", group="reopen"):
        eng = SearchEngine(spark, idx)
    t2 = time.perf_counter()
    with tr.span("operators.query", rid="delta", group="probe"):
        got = eng.search(marker, limit=10)
    t3 = time.perf_counter()
    eng._term_stats.unpersist()
    res.op(got["total_hits"] == expect, f"marker {marker}: {got['total_hits']} hits, want {expect}")
    after = _file_state(idx)
    written = sum(v[2] for p, v in after.items() if before.get(p) != v)
    ctx.layer("upsert.apply_s", t1 - t0)
    ctx.layer("upsert.reopen_s", t2 - t1)
    ctx.layer("upsert.probe_ms", (t3 - t2) * 1000.0)
    ctx.layer("upsert.spark_jobs", tr.jobs_in_group("upsert"))
    ctx.layer(
        "upsert.bytes_written_per_changed_byte",
        written / common.text_bytes(r[1] for r in rows),
    )


def traced_metrics(ctx, log_dir: str) -> None:
    stats = parse_event_log(log_dir)
    b = stats.get("build", {})
    ctx.layer("spark.jobs_per_build", b.get("jobs", 0.0))
    ctx.layer("spark.shuffle_write_mb_build", b.get("shuffle_write_bytes", 0.0) / 1e6)
    ctx.layer("spark.python_rows_to_worker_build", b.get("py_rows_sent", 0.0))
    ctx.layer("spark.python_mb_to_worker_build", b.get("py_bytes_sent", 0.0) / 1e6)
    ctx.layer("spark.task_busy_share_build", b.get("run_s", 0.0) / (ctx.build_s * ctx.cores))
    ctx.layer("spark.cpu_per_run_build", b.get("cpu_s", 0.0))
    groups = [f"search:{c[0]}" for c in search_cases(ctx.seed)]
    put_query_metrics(ctx, stats, groups, ctx.sweep_s)
    ctx.layer("spark.python_rows_open", stats.get("reopen", {}).get("py_rows_sent", 0.0))
