"""In-process kernel probes: ``functions.tokenize`` and
``functions.codec`` timed on the run's own corpus with no Spark, so
kernel compute can be told apart from the JVM/Arrow boundary that the
``spark.python_*`` metrics measure."""

from __future__ import annotations

import time
from collections import Counter, defaultdict

import numpy as np
import pandas as pd

from micce_search_engine_spark import BM25_B, BM25_K1
from micce_search_engine_spark.functions.codec import (
    bm25_wf,
    decode_postings,
    encode_postings,
)
from micce_search_engine_spark.functions.tokenize import tokenize_udf

#: docs in the fixed probe sample, and the minimum timed span per kernel
SAMPLE_DOCS = 2000
MIN_PROBE_S = 0.5


def _timed_rate(fn, work: int) -> float:
    """Units of ``work`` per second over repeated calls of ``fn``,
    repeated until at least MIN_PROBE_S has passed."""
    fn()  # warm
    n = 0
    t0 = time.perf_counter()
    while True:
        fn()
        n += 1
        el = time.perf_counter() - t0
        if el >= MIN_PROBE_S:
            return n * work / el


def kernel_probes(texts: list) -> dict[str, float]:
    """tokens/s of ``tokenize_udf``; postings/s of ``encode_postings``
    and ``decode_postings`` over the sample's head and tail terms."""
    sample = pd.Series(texts[:SAMPLE_DOCS], dtype=object)
    kernel = tokenize_udf.func
    toks = kernel(sample)
    n_tokens = int(sum(len(t) for t in toks))
    out = {"tokenize.tokens_per_s": _timed_rate(lambda: kernel(sample), n_tokens)}

    dls = np.array([len(t) for t in toks], dtype=np.int64)
    avgdl = float(dls.mean()) if len(dls) and dls.mean() > 0 else 1.0
    plists: dict[str, list] = defaultdict(list)
    for doc, t in enumerate(toks):
        for term, tf in Counter(t).items():
            plists[term].append((doc, tf))
    by_df = sorted(plists.items(), key=lambda kv: (-len(kv[1]), kv[0]))
    head = by_df[:5]
    tail = [kv for kv in by_df if len(kv[1]) < 100][:2000]
    lists = []
    for _term, plist in head + tail:
        arr = np.array(plist, dtype=np.int64)
        doc_ids, tfs = arr[:, 0], arr[:, 1]
        d = dls[doc_ids]
        lists.append((doc_ids, tfs, bm25_wf(tfs, d, avgdl, BM25_K1, BM25_B), d))
    n_postings = sum(len(x[0]) for x in lists)

    def encode_all():
        return [encode_postings(a, b, c, c_dl) for a, b, c, c_dl in lists]

    rows = encode_all()
    out["codec.encode_postings_per_s"] = _timed_rate(encode_all, n_postings)
    out["codec.decode_postings_per_s"] = _timed_rate(
        lambda: [decode_postings(r) for r in rows], n_postings
    )
    return out
