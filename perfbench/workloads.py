"""The workloads (``serve_hot`` is run by hand; the README says why). Each
runs one closed-loop client against the engine's public functions and times
every call from here, outside the program.

A workload's life in one run: ``prepare`` (once), ``setup_rep`` (several
times; the median counts), ``oracle`` (timed on its own, excluded from
every metric), ``warm`` (once), ``measure`` (the timed window) and
``finish`` (workload properties and the traced layer table).

In a traced run the operations alternate between untraced and traced, so
the two can be compared inside one process: their median difference is the
tracing overhead.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import numpy as np

import checks
import inputs
from harness import dir_bytes, median, p90

SETUP_REPS = 3
BUILD_CONVS = 400     # about 10k turns
SERVE_CONVS = 200     # about 5k turns
SEGMENT_BATCHES = 3   # the segments probe's batches: two of them merge
SEGMENT_MERGE_FACTOR = 2
WARM_TERM = "w1999"   # below the selective df band; never drawn by a query stream


class Workload:
    name = ""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tr = tracer
        self.traced_run = tracer.enabled
        self.seed = seed
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.op_s: list[float] = []          # untraced operation walls
        self.traced_op_s: list[float] = []   # traced operation walls (root spans)
        self.detail: dict = {}
        self.layers: dict = {}
        self.text_bytes = 0
        self.index_bytes = 0
        self.check_s = 0.0

    # lifecycle defaults
    def prepare(self):
        pass

    def warm(self):
        pass

    def finish(self):
        pass

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def tracing(self, i: int) -> bool:
        """Trace every other operation of a traced run; the parity flips
        every four operations so each query shape gets traced."""
        self.tr.enabled = self.traced_run and (i + i // 4) % 2 == 1
        return self.tr.enabled

    def check(self, fn, *args, what: str = "", **kw):
        """Run a correctness check (its time goes to ``check_s``, never to
        a metric) and count the operation it checks."""
        t0 = time.perf_counter()
        try:
            ok = bool(fn(*args, **kw))
        except Exception:
            print(f"perfbench: check raised:\n{traceback.format_exc()}", file=sys.stderr)
            ok = False
        self.check_s += time.perf_counter() - t0
        self.record(ok, what)

    def record(self, ok: bool, what: str):
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def error(self, what: str):
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: {what} raised:\n{traceback.format_exc()}", file=sys.stderr)

    def more(self, deadline: float) -> bool:
        """Keep going until the window closes and there is at least one
        untraced (and, in a traced run, one traced) operation to report;
        give up on that minimum after three failures."""
        if time.perf_counter() < deadline:
            return True
        short = not self.op_s or (self.traced_run and not self.traced_op_s)
        return short and self.failed < 3

    def keep_op(self, traced: bool, wall: float):
        (self.traced_op_s if traced else self.op_s).append(wall)

    # ---------------------------------------------------------- shared layers
    def builder_probe(self, docs, op: str, analyzer=None, split_ja: bool = False):
        """Builder layers timed on materialized intermediates: tokenize
        (per analyzer language) and the postings shuffle+encode."""
        from pyspark.sql import functions as F

        from lucene_kmp_spark.index.builder import build_postings, tokenize_to_tokens

        self.tr.enabled = True
        col = "lang" if analyzer is not None else None
        langs = ("std", "ja") if split_ja else ("std",)
        tok = {}
        for lang in langs:
            part = docs.filter(F.col("lang") == lang) if split_ja else docs
            name = "standard" if lang == "std" else "ja"
            with self.tr.span(f"analysis.{name}.tokenize", op=op) as s:
                s["rows"] = tokenize_to_tokens(part, analyzer=analyzer, analyzer_col=col).count()
            tok[name] = s
        tokens = tokenize_to_tokens(docs, analyzer=analyzer, analyzer_col=col).persist()
        tokens.count()
        with self.tr.span("builder.build_postings", op=op) as s:
            s["rows"] = build_postings(tokens).count()
        tokens.unpersist()
        self.tr.enabled = False
        return tok, s

    def builder_layers(self, tok: dict, postings: dict, turns: dict):
        """docids / analysis / builder layer metrics from the spans."""
        tr = self.tr
        build_s = median([s["dur_s"] for s in tr.named("builder.build_index")])
        tok_s = sum(s["dur_s"] for s in tok.values())
        self.layers.update({
            "docids.assign_s": median([s["dur_s"] for s in tr.named("docids.assign_doc_ids")]),
            "analysis.standard.tokenize_s": tok["standard"]["dur_s"],
            "analysis.standard.turns_per_s": turns["std"] / tok["standard"]["dur_s"],
            "analysis.token_rows": sum(s["rows"] for s in tok.values()),
            "builder.postings_s": postings["dur_s"],
            "builder.blocks": postings["rows"],
            # the rest of build_index: serve repartition, term_dict, norms
            "builder.stats_s": build_s - tok_s - postings["dur_s"],
            "builder.write_s": median([s["dur_s"] for s in tr.named("builder.write")]),
        })
        if "ja" in tok:
            self.layers["analysis.ja.tokenize_s"] = tok["ja"]["dur_s"]
            self.layers["analysis.ja.turns_per_s"] = turns["ja"] / tok["ja"]["dur_s"]

    def common_layers(self):
        """Spark counts per traced operation and the tracing overhead."""
        tr = self.tr
        roots = [s for s in tr.spans if s.get("root")]
        self.layers["spark.jobs_per_op"] = median([tr.subtree(s["id"], "jobs") for s in roots])
        self.layers["spark.tasks_per_op"] = median([tr.subtree(s["id"], "tasks") for s in roots])
        self.layers["spark.failed_tasks"] = sum(s["failed_tasks"] for s in tr.spans)
        self.layers["trace.overhead_s"] = median(self.traced_op_s) - median(self.op_s)
        table: dict[str, dict] = {}
        for s in tr.spans:
            t = table.setdefault(s["name"], {"n": 0, "self_s": [], "jobs": 0, "tasks": 0,
                                             "failed_tasks": 0})
            t["n"] += 1
            t["self_s"].append(s["self_s"])
            t["jobs"] += s["jobs"]
            t["tasks"] += s["tasks"]
            t["failed_tasks"] += s["failed_tasks"]
        for t in table.values():
            t["self_s_median"] = median(t.pop("self_s"))
        self.detail["spans"] = table

    # ------------------------------------------------------ query machinery
    def run_query(self, searcher, naive, shape, terms, q, i: int, cache=None):
        """One top-10 query, timed, then checked against the oracle."""
        from lucene_kmp_spark.search.query import rewrite_query

        traced = self.tracing(i)
        try:
            t0 = time.perf_counter()
            if traced:
                with self.tr.span("query", op=f"op#{i}", root=True, shape=shape, terms=terms):
                    with self.tr.span("query.rewrite"):
                        rewrite_query(q)
                    with self.tr.span("executor.term_stats"):
                        searcher.term_stats(list(terms))
                    with self.tr.span(f"executor.topk_{shape}"):
                        rows = searcher.top_k(q, 10).collect()
            else:
                rows = searcher.top_k(q, 10).collect()
            wall = time.perf_counter() - t0
        except Exception:
            self.error(f"query {q!r}")
            return
        self.tr.enabled = False
        self.keep_op(traced, wall)
        self.queries.append((shape, tuple(terms), wall))
        self.check(checks.topk_matches, rows, naive, q, cache=cache, what=f"top-10 of {q!r}")
        if traced:
            self.query_probe(searcher, q, terms, len(rows), f"op#{i}")

    def query_probe(self, searcher, q, terms, n_results: int, op: str):
        """Traced-only: the full match set (``execute``), and the decode and
        score kernels run on the driver over the query terms' blocks."""
        from pyspark.sql import functions as F

        from lucene_kmp_spark.search import bm25
        from lucene_kmp_spark.util.packing import block_decode, delta_block_decode

        self.tr.enabled = True
        with self.tr.span("executor.execute", op=op):
            searcher.execute(q).write.format("noop").mode("overwrite").save()
        self.tr.enabled = False
        idx = searcher.index
        blocks = (idx.postings.filter(F.col("term").isin(list(terms)))
                  .select("term", "doc_ids_enc", "freqs_enc", "norms_enc").collect())
        stats = searcher.term_stats(list(terms))
        k = self.kernels
        t0 = time.perf_counter()
        decoded = []
        for b in blocks:
            de, fe, ne = bytes(b["doc_ids_enc"]), bytes(b["freqs_enc"]), bytes(b["norms_enc"])
            decoded.append((b["term"], delta_block_decode(de), block_decode(fe),
                            np.frombuffer(ne, dtype=np.uint8)))
            k["bytes"] += len(de) + len(fe) + len(ne)
        t1 = time.perf_counter()
        scorers = {t: bm25.make_scorer(1.0, st.df, idx.stats.doc_count,
                                       idx.stats.sum_total_term_freq)
                   for t, st in stats.items()}
        for term, _docs, tfs, norms in decoded:
            scorers[term].score(tfs, norms)
            k["postings"] += len(tfs)
        t2 = time.perf_counter()
        k["decode_s"] += t1 - t0
        k["score_s"] += t2 - t1
        k["postings_per_result"].append(
            sum(len(d[2]) for d in decoded) / max(n_results, 1))

    def query_layers(self):
        tr, k = self.tr, self.kernels
        stats_spans = tr.named("executor.term_stats")
        roots = tr.named("query")
        by_shape = {}
        for s in tr.spans:
            if s["name"].startswith("executor.topk_"):
                by_shape.setdefault(s["name"], []).append(s["dur_s"])
        self.layers.update({
            "query.rewrite_s": median([s["dur_s"] for s in tr.named("query.rewrite")]),
            "executor.term_stats_s": median([s["dur_s"] for s in stats_spans]),
            "executor.term_stats_jobs": median([s["jobs"] for s in stats_spans]),
            "executor.jobs_per_query": median([tr.subtree(s["id"], "jobs") for s in roots]),
            "executor.tasks_per_query": median([tr.subtree(s["id"], "tasks") for s in roots]),
            "executor.execute_s": median([s["dur_s"] for s in tr.named("executor.execute")]),
            "executor.postings_per_result": median(k["postings_per_result"]),
            "packing.decoded_bytes": k["bytes"],
            "packing.decode_mb_per_s": k["bytes"] / 1e6 / k["decode_s"] if k["decode_s"] else 0.0,
            "bm25.scored_postings": k["postings"],
            "bm25.score_mpostings_per_s": k["postings"] / 1e6 / k["score_s"] if k["score_s"] else 0.0,
        })
        for shape in inputs.SHAPES:
            self.layers[f"executor.topk_{shape}_s"] = median(by_shape.get(f"executor.topk_{shape}", []))

    def query_properties(self, searcher):
        """Share of queries whose terms were all asked earlier in the run,
        Σdf per query, and the share the auto-prune gate lets through (the
        gate's own threshold and term_stats' df values)."""
        from lucene_kmp_spark.search.executor import IndexSearcher

        fresh = IndexSearcher(searcher.index)
        all_terms = sorted({t for _s, terms, _w in self.queries for t in terms})
        df = {t: st.df for t, st in fresh.term_stats(all_terms).items()}
        gate = IndexSearcher.AUTO_PRUNE_DF_FRACTION * searcher.index.stats.doc_count
        seen: set[str] = set()
        repeats = gated = 0
        sum_df = []
        for shape, terms, _wall in self.queries:
            repeats += set(terms) <= seen
            seen.update(terms)
            s = sum(df.get(t, 0) for t in terms)
            sum_df.append(s)
            gated += shape == "or" and len(terms) >= 2 and s >= gate
        n = max(len(self.queries), 1)
        self.detail["properties"] = {
            "queries": len(self.queries),
            "repeat_share": repeats / n,
            "sum_df_p50": median(sum_df),
            "sum_df_p90": p90(sum_df),
            "auto_prune_gate_share": gated / n,
            "auto_prune_gate_df": gate,
        }

    def e2e(self) -> dict:
        return {
            "op_p50_s": median(self.op_s),
            "index_bytes_per_text_byte": self.index_bytes / max(self.text_bytes, 1),
        }


# ======================================================================= build
class Build(Workload):
    """docids -> build_index (routed std/ja analysis) -> write, repeated."""

    name = "build"

    def prepare(self):
        self.ja, sentences = inputs.japanese(self.seed)
        self.analyzer = inputs.routed_analyzer(self.ja)
        # compiles the cmorph kernel (once per source hash) and packs the
        # dictionary on the driver, outside every timed build
        self.ja(sentences[0])
        self.sentences = sentences

    def setup_rep(self, r: int):
        self.input = self.path(f"input{r}")
        inputs.transcripts(self.spark, BUILD_CONVS, self.seed, ja_sentences=self.sentences) \
            .write.mode("overwrite").parquet(self.input)

    def build_once(self, path: str, i: int):
        from lucene_kmp_spark.index.builder import build_index
        from lucene_kmp_spark.index.docids import assign_doc_ids

        with self.tr.span("build", op=f"op#{i}", root=True):
            with self.tr.span("docids.assign_doc_ids"):
                docs = assign_doc_ids(self.spark.read.parquet(self.input))
            with self.tr.span("builder.build_index"):
                idx = build_index(docs, analyzer=self.analyzer, analyzer_col="lang")
            with self.tr.span("builder.write"):
                idx.write(path)
        return idx

    def warm(self):
        # the process's first full build: JIT and Python-worker start-up
        self.tr.enabled = False
        self.build_once(self.path("warm_index"), -1).unpersist()
        shutil.rmtree(self.path("warm_index"), ignore_errors=True)

    def oracle(self):
        from lucene_kmp_spark.analysis import cmorph

        self.rows = self.spark.read.parquet(self.input).select("text", "lang").collect()
        self.want = checks.recount_stats(self.rows, self.analyzer)
        self.turns = {"std": sum(r["lang"] == "std" for r in self.rows)}
        self.turns["ja"] = len(self.rows) - self.turns["std"]
        self.text_bytes = sum(len(r["text"].encode()) for r in self.rows if r["text"])
        self.detail["cmorph_native"] = bool(cmorph._load())

    def measure(self, deadline: float):
        from lucene_kmp_spark.index.builder import InvertedIndex

        i = 0
        probed = False
        while self.more(deadline):
            path = self.path(f"index{i}")
            traced = self.tracing(i)
            try:
                t0 = time.perf_counter()
                idx = self.build_once(path, i)
                wall = time.perf_counter() - t0
            except Exception:
                self.error("build")
                i += 1
                continue
            self.tr.enabled = False
            self.keep_op(traced, wall)
            written = InvertedIndex.read(self.spark, path)
            self.check(lambda: written.stats.to_dict() == self.want and checks.index_ok(written),
                       what=f"build {i}: stats {written.stats.to_dict()} want {self.want}")
            self.index_bytes = dir_bytes(path)
            if traced and not probed:
                self.layers["builder.bytes_written"] = self.index_bytes
                self.probe = self.builder_probe(idx.docs, "probe", self.analyzer, split_ja=True)
                probed = True
            idx.unpersist()
            shutil.rmtree(path, ignore_errors=True)
            i += 1

    def finish(self):
        turns = len(self.rows)
        self.detail["turns"] = turns
        self.detail["text_bytes"] = self.text_bytes
        self.detail["index_bytes"] = self.index_bytes
        self.detail["build_turns_per_s"] = turns / median(self.op_s)
        if self.traced_run:
            tok, postings = self.probe
            self.builder_layers(tok, postings, self.turns)
            L = self.layers
            layer_sum = (L["docids.assign_s"] + L["analysis.standard.tokenize_s"]
                         + L["analysis.ja.tokenize_s"] + L["builder.postings_s"]
                         + L["builder.stats_s"] + L["builder.write_s"])
            self.detail["builder.unaccounted_s"] = median(self.op_s) - layer_sum


# ======================================================================= serve
class Serve(Workload):
    """Top-10 queries against the index as written and read back."""

    def build(self, path: str):
        from lucene_kmp_spark.index.builder import build_index
        from lucene_kmp_spark.index.docids import assign_doc_ids

        with self.tr.span("setup", op="build"):
            with self.tr.span("docids.assign_doc_ids"):
                docs = assign_doc_ids(inputs.transcripts(self.spark, SERVE_CONVS, self.seed))
            with self.tr.span("builder.build_index"):
                idx = build_index(docs)
            with self.tr.span("builder.write"):
                idx.write(path)
        idx.unpersist()

    def prepare(self):
        # the one build of the served index; it also pays the process's
        # cold start (JIT, the first Python workers), so it is not traced
        self.index_path = self.path("index")
        self.tr.enabled = False
        self.build(self.index_path)
        self.tr.enabled = self.traced_run

    def setup_rep(self, r: int):
        # what a serving process does to open the index: read it back and
        # answer a first query
        from lucene_kmp_spark.index.builder import InvertedIndex
        from lucene_kmp_spark.search.executor import IndexSearcher
        from lucene_kmp_spark.search.query import TermQuery

        self.index = InvertedIndex.read(self.spark, self.index_path)
        self.searcher = IndexSearcher(self.index)
        self.searcher.top_k(TermQuery(WARM_TERM), 10).collect()

    def oracle(self):
        from lucene_kmp_spark.search.naive import NaiveIndex

        rows = inputs.transcripts(self.spark, SERVE_CONVS, self.seed, n_batches=SEGMENT_BATCHES) \
            .select("conv_id", "turn_idx", "text", "batch").collect()
        self.rows = rows
        self.naive = NaiveIndex(inputs.oracle_rows(rows))
        self.text_bytes = sum(len(r["text"].encode()) for r in rows if r["text"])
        self.index_bytes = dir_bytes(self.index_path)
        self.turns = len(rows)
        self.queries = []
        self.kernels = {"bytes": 0, "postings": 0, "decode_s": 0.0, "score_s": 0.0,
                        "postings_per_result": []}
        if self.traced_run:
            self.layers["builder.bytes_written"] = self.index_bytes
            # the builder layers of a warm build, as the set-up build pays them
            self.tr.enabled = True
            self.build(self.path("probe_index"))
            self.probe = self.builder_probe(self.index.docs, "probe")
            self.segments_probe()

    def segments_probe(self):
        """Traced-only: the same corpus appended in ``SEGMENT_BATCHES``
        batches through ``SegmentedIndexWriter`` (``log_doc`` policy, factor
        2, so every batch after the first merges), each followed by commit,
        a reopened reader and one selective query, checked against the
        oracle over the documents committed so far."""
        from pyspark.sql import functions as F

        from lucene_kmp_spark.index.segments import SegmentedIndexWriter
        from lucene_kmp_spark.search.naive import NaiveIndex

        tr = self.tr
        tr.enabled = True
        w = SegmentedIndexWriter(self.spark, self.path("segments"), merge_policy="log_doc",
                                 merge_factor=SEGMENT_MERGE_FACTOR)
        src = inputs.transcripts(self.spark, SERVE_CONVS, self.seed, n_batches=SEGMENT_BATCHES)
        stream = inputs.selective_queries(self.naive, self.seed + 1, exclude={WARM_TERM})
        seg = {"ingest_s": 0.0, "refresh_s": [], "flush_bytes": 0, "merge_bytes": 0, "merges": 0}
        committed: list = []
        reader = None
        for b in range(SEGMENT_BATCHES):
            _shape, _terms, q = next(stream)
            try:
                t0 = time.perf_counter()
                with tr.span("segments.batch", op=f"segments#{b}"):
                    with tr.span("segments.add_batch"):
                        rec = w.add_batch(src.filter(F.col("batch") == b).drop("batch"),
                                          batch_key=f"batch-{b}")
                    with tr.span("segments.maybe_merge") as ms:
                        merged = w.maybe_merge()
                        ms["merged"] = len(merged)
                    with tr.span("segments.commit"):
                        w.commit()
                    t1 = time.perf_counter()
                    with tr.span("segments.reader_open"):
                        reader = w.reader()
                        searcher = reader.searcher()
                    with tr.span("segments.first_query"):
                        rows = searcher.top_k(q, 10).collect()
                    t2 = time.perf_counter()
            except Exception:
                self.error(f"segments batch {b}")
                break
            seg["ingest_s"] += t1 - t0
            seg["refresh_s"].append(t2 - t1)
            seg["flush_bytes"] += rec["bytes"]
            seg["merges"] += len(merged)
            seg["merge_bytes"] += sum(m["bytes"] for m in merged)
            committed += inputs.oracle_rows([r for r in self.rows if r["batch"] == b],
                                            doc_base=len(committed))
            t3 = time.perf_counter()
            naive = NaiveIndex(committed)
            self.check_s += time.perf_counter() - t3
            self.check(checks.topk_matches, rows, naive, q,
                       what=f"segments batch {b}: top-10 of {q!r}")
        tr.enabled = False
        if reader is not None:
            self.check(checks.index_ok, reader.index, what="check_index over the live segments")
        self.segments = (seg, w.manifest(), len(committed))

    def segment_layers(self):
        tr = self.tr
        seg, manifest, turns = self.segments
        merges = [x for x in tr.named("segments.maybe_merge") if x.get("merged")]
        self.layers.update({
            "segments.add_batch_s": median([x["dur_s"] for x in tr.named("segments.add_batch")]),
            "segments.commit_s": median([x["dur_s"] for x in tr.named("segments.commit")]),
            "segments.merge_s": median([x["dur_s"] for x in merges]),
            "segments.merges": seg["merges"],
            "segments.bytes_rewritten": seg["merge_bytes"],
            "segments.write_amp": (seg["flush_bytes"] + seg["merge_bytes"]) / max(seg["flush_bytes"], 1),
            "segments.reader_open_s": median([x["dur_s"] for x in tr.named("segments.reader_open")]),
            "segments.live_segments": len(manifest["segments"]),
        })
        self.detail.update({
            "segments.ingest_turns_per_s": turns / seg["ingest_s"] if seg["ingest_s"] else 0.0,
            "segments.refresh_p50_s": median(seg["refresh_s"]),
            "segments.live_bytes_per_text_byte":
                sum(x["bytes"] for x in manifest["segments"]) / max(self.text_bytes, 1),
        })

    def stream(self):
        raise NotImplementedError

    def warm(self):
        # one query of each shape (the streams cycle through them): the
        # first query of a shape pays for its plan's first compilation
        from lucene_kmp_spark.search.query import rewrite_query

        self.cache: dict = {}
        self.todo = self.stream()
        self.tr.enabled = False
        for _ in inputs.SHAPES:
            shape, terms, q = next(self.todo)
            rewrite_query(q)
            rows = self.searcher.top_k(q, 10).collect()
            self.check(checks.topk_matches, rows, self.naive, q, cache=self.cache,
                       what=f"warm-up top-10 of {q!r}")

    def measure(self, deadline: float):
        for i, (shape, terms, q) in enumerate(self.todo):
            if not self.more(deadline):
                break
            self.run_query(self.searcher, self.naive, shape, terms, q, i, self.cache)

    def finish(self):
        self.detail.update({
            "turns": self.turns, "text_bytes": self.text_bytes, "index_bytes": self.index_bytes,
            "query_p50_s": median(self.op_s), "query_p90_s": p90(self.op_s),
            "query_samples": len(self.op_s),
            "query_s_by_shape": {shape: [w for sh, _t, w in self.queries if sh == shape]
                                 for shape in inputs.SHAPES},
        })
        self.query_properties(self.searcher)
        if self.traced_run:
            tok, postings = self.probe
            self.builder_layers(tok, postings, {"std": self.turns})
            self.query_layers()
            self.segment_layers()


class ServeSelective(Serve):
    name = "serve_selective"

    def stream(self):
        return inputs.selective_queries(self.naive, self.seed, exclude={WARM_TERM})


class ServeHot(Serve):
    name = "serve_hot"

    def stream(self):
        from lucene_kmp_spark.search.executor import IndexSearcher

        gate = IndexSearcher.AUTO_PRUNE_DF_FRACTION * self.index.stats.doc_count
        pool = inputs.hot_pool(self.naive, self.seed, gate)
        i = 0
        while True:
            yield pool[i % len(pool)]
            i += 1


WORKLOADS = {w.name: w for w in (Build, ServeSelective, ServeHot)}
