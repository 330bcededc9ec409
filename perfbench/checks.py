"""Output checks against ``oracle.BruteForceBM25``."""

from __future__ import annotations

TOL = 1e-9


def compare_with_oracle(got, oracle, query_text, lang, limit, page, synonyms=None):
    """None if ``got`` (a ``SearchEngine.search`` answer) matches the
    oracle, else what differs: the same doc_ids in the same order, scores
    within TOL, and the same total_hits and last_page."""
    want = oracle.search(query_text, lang_filter=lang, limit=limit, page=page, synonyms=synonyms)
    if got["total_hits"] != want["total_hits"]:
        return f"total_hits {got['total_hits']} != {want['total_hits']}"
    if got["last_page"] != want["last_page"]:
        return "last_page differs"
    expect = want["results"]
    res = got["results"]
    if [d for d, _ in res] != [d for d, _ in expect]:
        return f"doc_ids {[d for d, _ in res]} != {[d for d, _ in expect]}"
    for (_, score), (_, exp_score) in zip(res, expect):
        if abs(score - exp_score) > TOL:
            return f"score {score} != {exp_score}"
    return None
