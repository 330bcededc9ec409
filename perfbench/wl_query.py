"""Workload ``query``: the read path over a prebuilt index.

Corpus: FIXTURES ``small`` (20,000 docs, seed 42) with two positional
field indexes, ``text`` and ``title`` (its first 5 words), built once per
checkout by a child process and cached (see ``common.cached_dir``). The
seed drives the query sets and the query words.

Set-up: a ``SearchEngine(preload=False)`` on the text field, which pins
only ``term_stats``; one untimed ``search_batch`` query set and one
untimed sweep of ``search()`` per query class as warm-up.
Timed: ``search_batch`` over seeded 100-query sets (FIXTURES query
rules) for ``--seconds`` (at least two sets), then SWEEPS sweeps of
one ``search()`` per query class.
Checks (untimed): every sweep answer equals ``oracle.BruteForceBM25``,
and the ``search_batch`` rows of the same queries equal ``search()``.

Traced runs only: ``search_batch_topk`` on the first query set, whose
row count must equal ``search_batch``'s; two ``preload="decoded"`` field
engines behind a ``ConditionEngine`` with a doc_id-derived attribute
table, served by ``serving.http_api.serve`` on port 0; an untimed pass
and then one timed pass of a closed loop of CLIENTS connections over a
seeded, stratified request pool. Every answer must equal ``ServedOracle``, which computes
it from the corpus alone. Opening the decoded engines and the loop cost
~35 s, more than an untraced run can spend.
"""

from __future__ import annotations

import http.client
import inspect
import json
import os
import statistics
import threading
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import common
from checks import compare_with_oracle
from micce_search_engine_spark.corpus import (
    gen_pages,
    gen_queries,
    gen_synonyms,
    pages_spark_schema,
)
from micce_search_engine_spark.functions.geo import DEFAULT_RADIUS_KM, EARTH_RADIUS_KM
from micce_search_engine_spark.functions.tokenize import tokenize_text
from micce_search_engine_spark.operators.batch_query import (
    compile_query_tables,
    search_batch,
    search_batch_topk,
)
from micce_search_engine_spark.operators.multifield import (
    ConditionEngine,
    build_field_indexes,
)
from micce_search_engine_spark.operators.query import SearchEngine
from micce_search_engine_spark.oracle import BruteForceBM25, expand_branches
from micce_search_engine_spark.serving import http_api
from tracing import Tracer, parse_event_log, put_query_metrics, sum_groups
from wl_ingest import search_cases

N_DOCS = 20_000
CORPUS_SEED = 42
FIELDS = ("text", "title")
TITLE_EXPR = "array_join(slice(split(coalesce(text, ''), ' '), 1, 5), ' ')"
BATCH_QUERIES = 100
#: timed sweeps of search(), each with its own seeded query words, so
#: one unlucky word moves latency_ms less
SWEEPS = 2
CLIENTS = 2
REQUEST_CLASSES = ("keyword", "tail", "phrase", "synonym", "geo", "attrs_only")
POOL_PER_CLASS = 2
SYNONYMS = dict(gen_synonyms())


def cache_key() -> str:
    return common.source_key(
        N_DOCS, CORPUS_SEED, FIELDS, TITLE_EXPR, inspect.getsource(build_cache)
    )


def build_cache(spark, tmp: str) -> None:
    """Build the cached corpus parquet and the two field indexes."""
    os.makedirs(tmp)
    pdf = gen_pages(N_DOCS, seed=CORPUS_SEED)
    pdf.to_parquet(os.path.join(tmp, "corpus.parquet"))
    pages = spark.createDataFrame(pdf, schema=pages_spark_schema())
    build_field_indexes(
        spark,
        pages.withColumn("title", F.expr(TITLE_EXPR)),
        list(FIELDS),
        tmp,
        n_buckets=8,
        max_postings_per_row=200_000,
        with_positions=True,
    )


def _specs(seed: int, n: int) -> list[dict]:
    return [
        {
            "query_id": int(r.query_id),
            "query_text": r.query_text,
            "lang_filter": r.lang_filter if isinstance(r.lang_filter, str) else None,
            "limit": int(r.limit),
            "page": int(r.page),
        }
        for r in gen_queries(seed=seed, n=n).itertuples()
    ]


def _tail_word(rng) -> str:
    # Zipf ranks 2,000-8,000 of the 50k vocab: df ~10-60 in 20k docs
    return f"w{int(rng.integers(2000, 8000)):06d}"


def _head_word(rng) -> str:
    return f"w{int(rng.integers(0, 10)):06d}"


def _request_pool(seed: int, texts: list) -> list[tuple[str, dict]]:
    """POOL_PER_CLASS seeded requests per class, in class-interleaved
    order, so any prefix of the cycled pool keeps the class mix."""
    rng = np.random.default_rng([seed, 7])
    pool = []
    for _ in range(POOL_PER_CLASS):
        for cls in REQUEST_CLASSES:
            body = {"limit": int(rng.choice([5, 10, 20])), "page": int(rng.choice([1, 2, 3]))}
            if cls == "keyword":
                body["spot_name"] = _head_word(rng)
            elif cls == "tail":
                body["spot_name"] = _tail_word(rng)
            elif cls == "phrase":
                while True:
                    words = (texts[int(rng.integers(0, len(texts)))] or "").split(" ")
                    if len(words) >= 2:
                        break
                i = int(rng.integers(0, len(words) - 1))
                body["spot_name"] = f"{words[i]} {words[i + 1]}"
            elif cls == "synonym":
                body["spot_name"] = f"alias{int(rng.integers(0, 50))}"
            elif cls == "geo":
                body["spot_name"] = _head_word(rng)
                body["geo"] = {
                    "latitude": float(rng.uniform(-60, 60)),
                    "longitude": float(rng.uniform(-150, 150)),
                }
            else:
                body["category"] = str(rng.choice(["en", "ja", "ko", "de"]))
                body["has_instagram_image"] = bool(rng.integers(0, 2))
            pool.append((cls, body))
    return pool


def _request_class(cond: dict) -> str:
    """The request class as the engine sees it (head and tail single
    words are both ``keyword``)."""
    kw = cond.get("keyword")
    if kw is None:
        return "attrs_only"
    if cond.get("geo") is not None:
        return "geo"
    if kw in SYNONYMS:
        return "synonym"
    if len(tokenize_text(kw)) > 1:
        return "phrase"
    return "keyword"


class TimedEngine:
    """The ConditionEngine as ``serve()`` sees it, timing each search in
    the handler thread and tagging its Spark jobs with a job group."""

    def __init__(self, engine: ConditionEngine, tracer):
        self.engine = engine
        self.tracer = tracer
        #: (request class, seconds, Spark jobs, job group) per search
        self.calls: list[tuple[str, float, int, str]] = []
        self._lock = threading.Lock()
        self._n = 0

    def search(self, cond: dict) -> dict:
        with self._lock:
            n = self._n
            self._n += 1
        group = f"req:{n}"
        t0 = time.perf_counter()
        with self.tracer.span("operators.multifield", rid=n, group=group):
            res = self.engine.search(cond)
        el = time.perf_counter() - t0
        jobs = self.tracer.jobs_in_group(group) if self.tracer.enabled else 0
        with self._lock:
            self.calls.append((_request_class(cond), el, jobs, group))
        return res


def _post(port: int, body: dict) -> tuple[int, dict | None]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request(
            "POST", "/api/v1/search", json.dumps(body), {"Content-Type": "application/json"}
        )
        resp = conn.getresponse()
        data = resp.read()
    finally:
        conn.close()
    return resp.status, (json.loads(data) if resp.status == 200 else None)


def _closed_loop(port: int, pool, seconds: float, tracer) -> tuple[list, float]:
    """CLIENTS connections, each sending its next request only after the
    previous reply, for ``seconds`` and then until the pool's current
    pass is issued, so every run samples each request class equally.
    Returns ([(pool index, status, answer, seconds)], loop wall time)."""
    out = []
    lock = threading.Lock()
    nxt = [0]
    t_end = time.perf_counter() + seconds

    def client():
        while True:
            with lock:
                i = nxt[0]
                if i and i % len(pool) == 0 and time.perf_counter() >= t_end:
                    return
                nxt[0] += 1
            k = i % len(pool)
            t0 = time.perf_counter()
            with tracer.span("serving.http_api", rid=i):
                status, ans = _post(port, pool[k][1])
            el = time.perf_counter() - t0
            with lock:
                out.append((k, status, ans, el))

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out, time.perf_counter() - t0


class ServedOracle:
    """Expected HTTP answers computed from the corpus alone.

    The served rank profile is ``closeness``: with no geo condition
    every candidate scores 0 and the page is the candidates in doc_id
    order; with one, candidates within the radius rank by 1/(1+km).
    A doc matches a keyword when some field holds some synonym/original
    branch as consecutive tokens; title tokens are a prefix of the text
    tokens, so the text field decides."""

    def __init__(self, tokens: list[list[str]], langs: np.ndarray):
        """``tokens`` and ``langs`` per doc, in doc_id (url) order."""
        self.tokens = tokens
        self.sets = [set(t) for t in tokens]
        ids = np.arange(len(tokens))
        self.langs = langs
        self.lat = (ids * 7919 % 18001) / 100.0 - 90.0
        self.lon = (ids * 104729 % 36001) / 100.0 - 180.0
        self.has_images = ids % 3 == 0

    def _has_branch(self, doc: int, branch: list[str]) -> bool:
        if not set(branch) <= self.sets[doc]:
            return False
        toks, n = self.tokens[doc], len(branch)
        return any(toks[i : i + n] == branch for i in range(len(toks) - n + 1))

    def answer(self, cond: dict) -> dict:
        mask = np.ones(len(self.tokens), dtype=bool)
        if cond.get("category") is not None:
            mask &= self.langs == cond["category"]
        if cond.get("has_images") is not None:
            mask &= self.has_images == cond["has_images"]
        score = np.zeros(len(self.tokens))
        geo = cond.get("geo")
        if geo is not None:
            km = _haversine_km(self.lat, self.lon, geo["lat"], geo["lon"])
            mask &= km <= DEFAULT_RADIUS_KM
            score = 1.0 / (1.0 + km)
        docs = np.flatnonzero(mask)
        kw = cond.get("keyword")
        if kw is not None:
            branches = expand_branches(kw, SYNONYMS)
            docs = [d for d in docs if any(self._has_branch(d, b) for b in branches)]
        ranked = sorted(docs, key=lambda d: (-score[d], d))
        limit, page = cond["limit"], cond["page"]
        window = ranked[limit * (page - 1) : limit * page]
        return {
            "total_hits": len(ranked),
            "last_page": len(ranked) - limit * page <= 0,
            "spot_ids": [str(int(d)) for d in window],
        }


def _haversine_km(lat, lon, clat: float, clon: float):
    """functions.geo.haversine_km in numpy, same operation order."""
    rlat1, rlon1 = np.radians(lat), np.radians(lon)
    rlat2, rlon2 = np.radians(clat), np.radians(clon)
    a = np.sin((rlat2 - rlat1) / 2) ** 2 + np.cos(rlat1) * np.cos(rlat2) * np.sin(
        (rlon2 - rlon1) / 2
    ) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))


def run(ctx) -> None:
    spark, tr, res = ctx.spark, ctx.tracer, ctx.result
    cache = ctx.cache_dir
    pdf = pd.read_parquet(os.path.join(cache, "corpus.parquet")).sort_values("url")
    ctx.texts = list(pdf["text"])
    idx = {f: os.path.join(cache, f"field={f}") for f in FIELDS}
    offline = SearchEngine(spark, idx["text"], synonyms=SYNONYMS)
    common.log("warm-up")
    # a whole query set: the first sets of a process still run ~10% slower
    search_batch(offline, _specs(ctx.seed + 10_000, BATCH_QUERIES)).count()
    # one untimed sweep: the first search() of each class still pays
    # code generation and JIT, ~1.3x its later cost
    for _cls, q, lang, limit, page in search_cases(ctx.seed + 10_000):
        offline.search(q, lang_filter=lang, limit=limit, page=page)
    res.put("cache_mb", common.storage_mb(spark), "MB")
    res.put(
        "index_bytes_per_text_byte",
        sum(common.du_bytes(idx[f]) for f in FIELDS) / common.text_bytes(ctx.texts),
        "ratio",
    )

    ctx.setup_done()
    common.log("bulk phase")
    sets, set_s = [], []
    batch_s = 0.0
    while len(sets) < 2 or batch_s < ctx.seconds:
        k = len(sets)
        specs = _specs(ctx.seed * 1000 + k, BATCH_QUERIES)
        t0 = time.perf_counter()
        with tr.span("operators.batch_query", rid=f"batch:{k}", group=f"batch:{k}"):
            rows = search_batch(offline, specs).count()
        set_s.append(time.perf_counter() - t0)
        batch_s += set_s[-1]
        sets.append((specs, rows))
        res.op(True)
    res.put("bulk_per_s", BATCH_QUERIES * len(sets) / batch_s, "1/s")

    common.log("search() sweeps")
    cases = search_cases(ctx.seed, SWEEPS)
    answers, lat = [], []
    for i, (cls, q, lang, limit, page) in enumerate(cases):
        t0 = time.perf_counter()
        with tr.span("operators.query", rid=f"{cls}:{i}", group=f"search:{i}"):
            got = offline.search(q, lang_filter=lang, limit=limit, page=page)
        lat.append(time.perf_counter() - t0)
        answers.append(got)
    # the mean, like ingest's sweep: the classes form a fast and a slow group
    res.put("latency_ms", sum(lat) / len(lat) * 1000.0, "ms")
    common.log(
        "search_batch: " + ", ".join(f"{el:.2f}s" for el in set_s)
        + "; searches: " + ", ".join(f"{c[0]}={el:.2f}s" for c, el in zip(cases, lat))
    )
    if ctx.trace:
        ctx.sweep_s = sum(lat)
        ctx.n_batch_sets = len(sets)
        ctx.layer("batch_query.search_batch_s", batch_s / len(sets))
        ctx.layer("batch_query.rows", sum(r for _s, r in sets))
        per_sweep = len(cases) // SWEEPS
        for i, (cls, *_q) in enumerate(cases[:per_sweep]):
            ctx.layer(f"query.search_ms.{cls}", statistics.median(lat[i::per_sweep]) * 1000.0)
        t0 = time.perf_counter()
        with tr.span("operators.batch_query", rid="topk", group="topk"):
            topk_rows = search_batch_topk(offline, sets[0][0]).count()
        ctx.layer("batch_query.search_batch_topk_s", time.perf_counter() - t0)
        res.op(topk_rows == sets[0][1], f"search_batch_topk rows {topk_rows} != {sets[0][1]}")
        t0 = time.perf_counter()
        compile_query_tables(spark, sets[0][0], SYNONYMS, offline.idf_map, offline.lang_id_of)
        ctx.layer("batch_query.compile_ms", (time.perf_counter() - t0) * 1000.0)
        facts = common.index_facts(idx["text"])
        for k in ("postings", "segments_mb", "positions_mb"):
            ctx.layer(f"index_build.{k}", facts[k])

    common.log("checks")
    oracle = BruteForceBM25(pdf)
    rows = search_batch(
        offline,
        [
            {"query_id": i, "query_text": q, "lang_filter": lang, "limit": limit, "page": page}
            for i, (_c, q, lang, limit, page) in enumerate(cases)
        ],
    ).toPandas()
    for i, ((cls, q, lang, limit, page), got) in enumerate(zip(cases, answers)):
        mine = rows[rows["query_id"] == i].sort_values("rank")
        same = [int(d) for d in mine["doc_id"]] == [d for d, _ in got["results"]] and all(
            abs(a - b) <= 1e-9 for a, (_d, b) in zip(mine["score"], got["results"])
        )
        if len(mine):
            same = same and int(mine["total_hits"].iloc[0]) == got["total_hits"]
        res.op(same, f"search_batch != search() for {cls} {q!r}")
        problem = compare_with_oracle(got, oracle, q, lang, limit, page, synonyms=SYNONYMS)
        res.op(problem is None, f"{cls} query {q!r}: {problem}")
    if ctx.trace:
        _traced_serving(ctx, idx, pdf, oracle)


def _traced_serving(ctx, idx: dict, pdf: pd.DataFrame, oracle) -> None:
    """Traced runs only: two decoded field engines behind a
    ConditionEngine and ``serve()``, one closed-loop pass over the
    request pool, every answer checked against ``ServedOracle``."""
    spark, tr, res = ctx.spark, ctx.tracer, ctx.result
    common.log("serving")
    engines = {}
    for f in FIELDS:
        t0 = time.perf_counter()
        with tr.span("operators.query", rid=f"open:{f}", group=f"open:{f}"):
            engines[f] = SearchEngine(spark, idx[f], synonyms=SYNONYMS, preload="decoded")
        ctx.layer(f"query.open_decoded_s.{f}", time.perf_counter() - t0)
    attrs = (
        spark.createDataFrame(
            pd.DataFrame({"doc_id": np.arange(N_DOCS), "category": pdf["lang"].to_numpy()})
        )
        .select(
            "doc_id",
            ((F.col("doc_id") * 7919 % 18001) / 100.0 - 90.0).alias("lat"),
            ((F.col("doc_id") * 104729 % 36001) / 100.0 - 180.0).alias("lon"),
            "category",
            (F.col("doc_id") % 3 == 0).alias("has_images"),
        )
        .persist()
    )
    attrs.count()
    timed = TimedEngine(ConditionEngine(engines, attrs=attrs, synonyms=SYNONYMS), tr)
    server = http_api.serve(timed, port=0)
    port = server.server_address[1]
    try:
        pool = _request_pool(ctx.seed, ctx.texts)
        # one untimed pass: the first request of each plan shape pays
        # its code generation
        _closed_loop(port, _request_pool(ctx.seed + 10_000, ctx.texts), 0.0, Tracer(spark, False))
        timed.calls.clear()
        done, loop_s = _closed_loop(port, pool, 0.0, tr)
    finally:
        server.shutdown()
        server.server_close()
    lat = [el for _k, status, _a, el in done if status == 200]
    ctx.loop_s = loop_s
    ctx.req_groups = [c[3] for c in timed.calls]
    ctx.layer("http_api.requests", len(done))
    ctx.layer("http_api.requests_per_s", len(lat) / loop_s)
    p90 = statistics.quantiles(lat, n=10, method="inclusive")[8]
    ctx.layer("http_api.round_trip_p90_ms", p90 * 1000.0)
    ctx.layer("http_api.non200", len(done) - len(lat))
    engine_s = sum(c[1] for c in timed.calls)
    ctx.layer("http_api.self_ms", (sum(d[3] for d in done) - engine_s) / len(done) * 1000.0)
    ctx.layer("multifield.search_ms", statistics.median([c[1] for c in timed.calls]) * 1000.0)
    ctx.layer("multifield.spark_jobs_per_search", statistics.median([c[2] for c in timed.calls]))
    by_class = {}
    for cls, el, _jobs, _group in timed.calls:
        by_class.setdefault(cls, []).append(el)
    for cls, els in by_class.items():
        ctx.layer(f"multifield.search_ms.{cls}", statistics.median(els) * 1000.0)
    bodies = [json.dumps(b).encode() for _c, b in pool]
    t0 = time.perf_counter()
    for _ in range(100):
        for b in bodies:
            http_api.parse_condition(b)
    ctx.layer("http_api.parse_us", (time.perf_counter() - t0) / (100 * len(bodies)) * 1e6)

    served = ServedOracle(oracle.tokens, np.asarray(oracle.langs))
    for k, status, ans, _el in done:
        want = served.answer(http_api.parse_condition(json.dumps(pool[k][1]).encode()))
        res.op(status == 200 and ans == want, f"request {pool[k][1]}: {status} {ans}, want {want}")


def traced_metrics(ctx, log_dir: str) -> None:
    stats = parse_event_log(log_dir)
    groups = [f"search:{i}" for i in range(len(search_cases(ctx.seed, SWEEPS)))]
    put_query_metrics(ctx, stats, groups, ctx.sweep_s)
    opens = sum_groups(stats, [f"open:{f}" for f in FIELDS])
    ctx.layer("spark.python_rows_open", opens.get("py_rows_sent", 0.0))
    batches = sum_groups(stats, [f"batch:{k}" for k in range(ctx.n_batch_sets)])
    ctx.layer("batch_query.spark_jobs_per_call", batches.get("jobs", 0.0) / ctx.n_batch_sets)
