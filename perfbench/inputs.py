"""Seeded inputs: the transcripts tables, the Japanese routing, the routed
analyzer and the query streams. The same seed gives the same inputs."""

from __future__ import annotations

import random

JA_EVERY = 8          # one turn in eight carries Japanese text
JA_SENTENCES = 512    # distinct synthetic Japanese sentences to draw from
SELECTIVE_DF = (0.002, 0.02)  # df band of serve_selective terms, as a share of turns
HOT_TERMS = 40
HOT_POOL = 20


def transcripts(spark, n_convs: int, seed: int, ja_sentences=None, n_batches: int = 0):
    """The seeded transcripts table (``data/transcripts.py``). With
    ``ja_sentences`` one turn in ``JA_EVERY`` is replaced by a Japanese
    sentence and a ``lang`` column routes it; with ``n_batches`` a ``batch``
    column deals the conversations into that many ingest batches."""
    from pyspark.sql import functions as F

    from lucene_kmp_spark.data.transcripts import synth_transcripts

    df = synth_transcripts(spark, n_convs=n_convs, seed=seed)
    if ja_sentences:
        h = F.xxhash64("conv_id", "turn_idx", F.lit(seed), F.lit("lang"))
        is_ja = F.pmod(h, F.lit(JA_EVERY)) == 0
        pick = F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed), F.lit("ja")),
                      F.lit(len(ja_sentences))) + 1
        sentences = F.array(*[F.lit(s) for s in ja_sentences])
        df = df.select(
            *[c for c in df.columns if c != "text"],
            F.when(is_ja, F.element_at(sentences, pick.cast("int")))
            .otherwise(F.col("text")).alias("text"),
            F.when(is_ja, F.lit("ja")).otherwise(F.lit("std")).alias("lang"),
        )
    if n_batches:
        # conversations dealt round-robin: every batch holds the same number
        conv_no = F.regexp_extract("conv_id", r"(\d+)$", 1).cast("long")
        df = df.withColumn("batch", F.pmod(conv_no, F.lit(n_batches)).cast("int"))
    return df


def japanese(seed: int):
    """(analyzer, sentences): ``japanese_analyzer`` over the synthetic
    12k-entry dictionary, and seeded sentences drawn from that dictionary."""
    from lucene_kmp_spark.analysis.ja import japanese_analyzer
    from lucene_kmp_spark.analysis.synthdict import synth_japanese_dictionary, synth_sentences_ja

    entries, conn, unk, char_def = synth_japanese_dictionary()
    return (
        japanese_analyzer(entries, conn, unk, char_def),
        synth_sentences_ja(entries, n=JA_SENTENCES, seed=seed),
    )


def routed_analyzer(ja):
    """``(text, lang) -> (terms, positions, length)``: Japanese rows go to
    ``ja``, all others to the standard chain. A closure, so Spark ships it
    by value and the workers need nothing from this directory."""
    from lucene_kmp_spark.analysis import analyze

    def run(text, lang):
        return ja(text) if lang == "ja" else analyze(text)

    return run


def oracle_rows(rows, doc_base: int = 0) -> list[tuple[int, str]]:
    """(doc_id, text) in the engine's docID order — rank of (conv_id,
    turn_idx) — computed independently of the engine."""
    ordered = sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"]))
    return [(doc_base + i, r["text"]) for i, r in enumerate(ordered)]


# ------------------------------------------------------------------ queries
def _bigrams(naive, terms: set[str]) -> list[tuple[str, str]]:
    """Adjacent (t1, t2) pairs present in the corpus, both drawn from
    ``terms`` — phrases that match something."""
    pos: dict[int, dict[int, str]] = {}
    for t in terms:
        for doc, plist in naive.postings.get(t, {}).items():
            d = pos.setdefault(doc, {})
            for p in plist:
                d[p] = t
    pairs = set()
    for d in pos.values():
        for p, t in d.items():
            if p + 1 in d and d[p + 1] != t:
                pairs.add((t, d[p + 1]))
    return sorted(pairs)


def _query(shape: str, terms):
    from lucene_kmp_spark.search.query import BooleanQuery, PhraseQuery, TermQuery

    if shape == "term":
        return TermQuery(terms[0])
    if shape == "and":
        return BooleanQuery.build(must=[TermQuery(t) for t in terms])
    if shape == "or":
        return BooleanQuery.build(should=[TermQuery(t) for t in terms])
    return PhraseQuery(tuple(terms))


SHAPES = ("term", "and", "or", "phrase")
_ARITY = {"term": 1, "and": 2, "or": 3, "phrase": 2}


def selective_queries(naive, seed: int, exclude=frozenset()):
    """Stream of (shape, terms, query) over low- and mid-df terms, until the
    terms run out; no term is used twice, none from ``exclude`` at all."""
    n = max(naive.doc_count, 1)
    lo, hi = SELECTIVE_DF
    pool = sorted(t for t, p in naive.postings.items()
                  if lo * n <= len(p) <= hi * n and t not in exclude)
    rng = random.Random(seed)
    rng.shuffle(pool)
    pairs = _bigrams(naive, set(pool))
    rng.shuffle(pairs)
    used: set[str] = set()
    i = rng.randrange(len(SHAPES))
    while True:
        shape = SHAPES[i % len(SHAPES)]
        i += 1
        if shape == "phrase":
            while pairs and (pairs[-1][0] in used or pairs[-1][1] in used):
                pairs.pop()
            if not pairs:
                return
            terms = list(pairs.pop())
        else:
            terms = []
            while pool and len(terms) < _ARITY[shape]:
                t = pool.pop()
                if t not in used:
                    terms.append(t)
            if len(terms) < _ARITY[shape]:
                return
        used.update(terms)
        yield shape, terms, _query(shape, terms)


def hot_pool(naive, seed: int, gate_df: float):
    """A fixed pool of ``HOT_POOL`` queries over the ``HOT_TERMS`` highest-df
    terms: single terms, ORs whose Σdf reaches ``gate_df`` (the auto-prune
    gate), ANDs and phrases, in equal shares."""
    rng = random.Random(seed)
    hot = sorted(naive.postings, key=lambda t: (-len(naive.postings[t]), t))[:HOT_TERMS]
    df = {t: len(naive.postings[t]) for t in hot}
    pairs = _bigrams(naive, set(hot))
    pool = []
    for k in range(HOT_POOL):
        shape = SHAPES[k % len(SHAPES)]
        if shape == "phrase":
            terms = list(rng.choice(pairs))
        elif shape == "or":
            terms = rng.sample(hot, 2)
            while sum(df[t] for t in terms) < gate_df:
                terms.append(rng.choice([t for t in hot if t not in terms]))
        else:
            terms = rng.sample(hot, _ARITY[shape])
        pool.append((shape, terms, _query(shape, terms)))
    return pool
