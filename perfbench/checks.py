"""Correctness checks. Their time is excluded from every metric."""

from __future__ import annotations

import numpy as np


def topk_matches(rows, naive, query, k: int = 10, cache: dict | None = None) -> bool:
    """The engine's top-k (doc ids, then float32 scores, in order) equals
    ``search/naive.py`` over the same documents."""
    key = repr(query)
    if cache is not None and key in cache:
        want = cache[key]
    else:
        want = naive.top_k(query, k)
        if cache is not None:
            cache[key] = want
    got = [(r["doc_id"], r["score"]) for r in rows]
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    return all(np.float32(a) == np.float32(b) for (_, a), (_, b) in zip(got, want))


def recount_stats(rows, analyzer) -> dict:
    """Collection stats recounted on the driver through ``analyzer(text,
    lang)`` — the routed analyzer the build ran."""
    terms_seen: set[str] = set()
    doc_count = sum_ttf = sum_df = 0
    for r in rows:
        terms = analyzer(r["text"], r["lang"])[0] if r["text"] is not None else []
        if not terms:
            continue
        doc_count += 1
        sum_ttf += len(terms)
        distinct = set(terms)
        sum_df += len(distinct)
        terms_seen |= distinct
    return {
        "max_doc": len(rows),
        "doc_count": doc_count,
        "sum_total_term_freq": sum_ttf,
        "sum_doc_freq": sum_df,
        "num_terms": len(terms_seen),
    }


def index_ok(idx) -> bool:
    """``index/check.py`` finds no problem."""
    from lucene_kmp_spark.index.check import check_index

    return check_index(idx)["clean"] is True
