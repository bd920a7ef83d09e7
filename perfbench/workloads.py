"""The two closed-loop workloads, driven only through public entry points.

``ingest`` is the write side of the engine: full index builds and one
curation pass over the same corpus. It serves no query load. ``serve`` is the read side over an index
built during set-up: single-query calls, rankeval-style batch calls,
then a re-crawl ``upsert`` and a batch over the fragmented index
(merge-on-read). Every answer is checked against the
single-node oracle (``oracle/engine.py``) or a pure-Python twin.
"""

from __future__ import annotations

import shutil
import time
from collections import Counter, defaultdict
from functools import cached_property

from perfbench.harness import Ops, dir_bytes, median, tail
from perfbench.inputs import Inputs

#: index layout: 2 source partitions, so builds run concurrent
#: partition pipelines
NUM_BUCKETS = 16
NSALT = 4
SRC_PARTITIONS = 2
K = 10
#: curation pass: batched BPE, up to 64 merges per distributed round
#: (the synthetic vocabulary's shared symbols make it ~10 rounds)
BPE_MERGES = 128
BPE_BATCH = 64
SCORE_TOL = 1e-6


def index_config(path: str):
    from mwmbl_spark.plans.build_index import IndexConfig

    return IndexConfig(
        path=path, num_buckets=NUM_BUCKETS, nsalt=NSALT,
        n_src_partitions=SRC_PARTITIONS,
    )


def text_bytes(corpus) -> int:
    return int(sum(len(t.encode("utf-8")) for t in corpus["text"]))


def _oracle(rows):
    """``oracle.engine.build_oracle`` with ``avg_len`` computed once: the
    oracle's property re-sums every document length for each posting it
    scores, and nothing is added after construction here."""
    from oracle.engine import OracleIndex

    class Oracle(OracleIndex):
        avg_len = cached_property(OracleIndex.avg_len.fget)

    idx = Oracle()
    for doc_id, text in rows:
        idx.add(doc_id, text)
    return idx


class Expected:
    """Oracle answers; a check runs after its operation is timed."""

    def __init__(self, corpus):
        self.oracle = _oracle(zip(corpus["doc_id"], corpus["text"]))
        self.n_docs = len(corpus)
        self.sum_len = sum(self.oracle.doc_len.values())
        self._memo: dict[tuple[str, str], list] = {}

    def topk(self, query: str, mode: str = "disjunctive") -> list:
        key = (query, mode)
        if key not in self._memo:
            self._memo[key] = self.oracle.bm25_topk(query, K, mode)
        return self._memo[key]

    def check(self, rows, queries, mode: str = "disjunctive") -> bool:
        """Exact doc_id order per query, scores within SCORE_TOL."""
        got = defaultdict(list)
        for r in rows:
            got[int(r["query_id"])].append((int(r["rank"]), int(r["doc_id"]), r["score"]))
        for qid, q in queries:
            have = [(d, s) for _, d, s in sorted(got.get(qid, []))]
            want = self.topk(q, mode)
            if [d for d, _ in have] != [d for d, _ in want]:
                return False
            if any(abs(a - b) > SCORE_TOL for (_, a), (_, b) in zip(have, want)):
                return False
        return True


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _deadline_loop(budget_s: float, min_n: int):
    """Yield 0, 1, 2, ... until ``budget_s`` has passed and at least
    ``min_n`` iterations ran."""
    t0, i = time.perf_counter(), 0
    while i < min_n or time.perf_counter() - t0 < budget_s:
        yield i
        i += 1


class Result:
    """End-to-end numbers of one run, keyed by the names in
    BENCHMARK.json, plus the per-workload detail lines."""

    def __init__(self):
        self.metrics: dict[str, tuple[float, str]] = {}
        self.detail: list[tuple[str, float, str, str]] = []

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def note(self, name: str, value: float, unit: str, extra: str = "") -> None:
        self.detail.append((name, float(value), unit, extra))


# -- ingest ---------------------------------------------------------------

def _bigram_top(corpus, k: int = 20) -> list[tuple[str, int, int]]:
    from mwmbl_spark.functions.tokenize import tokenize_py

    occ, docs = Counter(), Counter()
    for text in corpus["text"]:
        toks = tokenize_py(text)
        grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        occ.update(grams)
        docs.update(set(grams))
    top = sorted(occ.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(g, n, docs[g]) for g, n in top]


def curation_pass(corpus_df, ops: Ops, timings: dict, checks: dict) -> None:
    """repetition -> temperature mix -> quota -> packing, then n-gram and
    PMI analytics, then batched BPE learn + encode. Each action is one
    operation; ``timings`` collects its wall time per stage."""
    from pyspark.sql import functions as F

    from mwmbl_spark.functions.tokenize import tokenize_pd
    from mwmbl_spark.operators.bpe import bpe_encode, learn_bpe, word_counts
    from mwmbl_spark.operators.corpus_analytics import pmi_pairs, top_ngrams
    from mwmbl_spark.operators.repetition import repetition_features
    from mwmbl_spark.operators.sampling import (
        pack_sequences,
        quota_sample,
        temperature_mix,
    )

    docs = corpus_df.select(
        "doc_id", "conv_id", "role", "text", tokenize_pd(F.col("text")).alias("toks")
    )
    n_docs = checks["n_docs"]

    def stage(name, fn, check=None):
        out, dt = ops.run(name, fn, check)
        timings[name] = timings.get(name, 0.0) + dt
        return out

    def sampled():
        feats = docs.select(
            "doc_id", "conv_id", "role", F.size("toks").alias("n_tokens")
        ).join(repetition_features(docs).select("doc_id", "top_bigram_frac"), "doc_id")
        kept = feats.where(F.col("top_bigram_frac") <= 0.5)
        mixed = temperature_mix(kept, "role", alpha=0.5)
        capped = quota_sample(mixed, "conv_id", cap=6)
        packed = pack_sequences(
            capped.select("doc_id", "n_tokens"), max_tokens=512, n_shards=8
        )
        return packed.agg(F.count(F.lit(1)).alias("n"), F.max("seq_id")).collect()[0]

    stage(
        "repetition",
        lambda: repetition_features(docs).agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"],
        lambda n: n == n_docs,
    )
    stage("sampling", sampled, lambda r: 0 < r["n"] <= n_docs)
    stage(
        "top_ngrams",
        lambda: [
            (r["gram"], r["n_occurrences"], r["n_docs"])
            for r in top_ngrams(docs, n=2, k=20).orderBy("rank").collect()
        ],
        lambda got: got == checks["top_bigrams"],
    )
    stage("pmi", lambda: pmi_pairs(docs, min_df=2, k=50).collect(), lambda r: len(r) == 50)
    wc = word_counts(corpus_df.select("doc_id", "text"))
    merges = stage(
        "bpe_learn",
        lambda: learn_bpe(
            wc, n_merges=BPE_MERGES, min_count=2, batch=BPE_BATCH,
            driver_threshold=0, checkpoint_every=4,
        ),
        lambda m: m == checks["merges"],
    )
    stage(
        "bpe_encode",
        lambda: bpe_encode(corpus_df.select("doc_id", "text"), merges or [])
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_subwords").alias("s"))
        .collect()[0],
        lambda r: r["n"] == n_docs and r["s"] > 0,
    )


def curation_checks(inputs: Inputs) -> dict:
    """Reference answers for the curation pass: the pure-Python bigram
    top-20 and the merges of the pure-Python batched BPE twin."""
    from mwmbl_spark.functions.tokenize import tokenize_py
    from mwmbl_spark.operators.bpe import _pure_bpe_batched

    words = Counter(t for text in inputs.corpus["text"] for t in tokenize_py(text))
    return {
        "n_docs": inputs.n_turns,
        "top_bigrams": _bigram_top(inputs.corpus),
        "merges": _pure_bpe_batched(
            sorted(words.items()), BPE_MERGES, 2, BPE_BATCH, max(64, 8 * BPE_BATCH)
        ),
    }


def ingest(spark, work, inputs: Inputs, seconds: float, ops: Ops, res: Result,
           _state=None) -> None:
    from mwmbl_spark.plans.build_index import IndexBuilder

    corpus_df = spark.read.parquet(inputs.corpus_path)
    expected = Expected(inputs.corpus)
    checks = curation_checks(inputs)

    builds, b = [], None
    for i in _deadline_loop(0.35 * seconds, 2):
        b = IndexBuilder(spark, index_config(_fresh(work.path(f"ingest-{i % 2}"))))
        _, dt = ops.run("build", lambda: b.build(corpus_df),
                        lambda parts: len(parts) == SRC_PARTITIONS
                        and b.doc_totals() == (expected.n_docs, expected.sum_len))
        builds.append(dt)
    index_ratio = dir_bytes(b.cfg.path) / text_bytes(inputs.corpus)

    timings: dict[str, float] = {}
    curation_pass(corpus_df, ops, timings, checks)
    curate_s = sum(timings.values())

    build_p50 = median(builds)
    res.put("op_p50_s", build_p50, "s")
    res.put("pass_items_per_s", inputs.n_turns / curate_s, "1/s")
    res.put("index_bytes_per_input_byte", index_ratio, "ratio")
    res.note("build_turns_per_s", inputs.n_turns / build_p50, "turns/s",
             f"median of {len(builds)} builds of {inputs.n_turns} turns")
    res.note("index_bytes_per_input_byte", index_ratio, "ratio",
             f"fresh build, {SRC_PARTITIONS} fragments")
    res.note("curate_turns_per_s", inputs.n_turns / curate_s, "turns/s",
             f"whole pass, {curate_s:.2f} s")
    for name, dt in timings.items():
        res.note(f"curate.{name}_s", dt, "s")


# -- serve ----------------------------------------------------------------

def serve_setup(spark, work, inputs: Inputs):
    """Build the served index: set-up work, counted in ``setup_s``."""
    from mwmbl_spark.plans.build_index import IndexBuilder

    b = IndexBuilder(spark, index_config(_fresh(work.path("serve-index"))))
    b.build(spark.read.parquet(inputs.corpus_path))
    return b


def serve(spark, work, inputs: Inputs, seconds: float, ops: Ops, res: Result,
          b) -> None:
    before = Expected(inputs.corpus)
    after = Expected(inputs.updated_corpus())
    qschema = "query_id long, query string"

    singles = []
    for i in _deadline_loop(0.3 * seconds, 6):
        qid, q, mode = inputs.singles[i % len(inputs.singles)]
        _, dt = ops.run(
            "single_query",
            lambda: b.query_topk([(qid, q)], k=K, mode=mode).collect(),
            lambda rows: before.check(rows, [(qid, q)], mode),
        )
        singles.append(dt)

    batch_s, batch_q, nb = 0.0, 0, len(inputs.batches)
    batch_calls = []

    def eval_batch(i: int, expected: Expected) -> None:
        nonlocal batch_s, batch_q
        queries = inputs.batches[i % nb]
        qdf = spark.createDataFrame(queries, qschema)
        _, dt = ops.run(
            "eval_batch",
            lambda: b.query_topk(qdf, k=K).collect(),
            lambda rows: expected.check(rows, queries),
        )
        batch_s += dt
        batch_calls.append(dt)
        batch_q += len(queries)

    i = 0
    for i in _deadline_loop(0.15 * seconds, 1):
        eval_batch(i, before)

    recrawl = spark.read.parquet(inputs.recrawl_path)
    live = after.n_docs, after.sum_len
    _, upsert_s = ops.run("upsert", lambda: b.upsert(recrawl),
                          lambda _: b.doc_totals() == live)
    eval_batch(i + 1, after)  # merge-on-read: three fragments + a delete vector
    index_ratio = dir_bytes(b.cfg.path) / text_bytes(inputs.updated_corpus())

    p50 = median(singles)
    res.put("op_p50_s", p50, "s")
    res.put("pass_items_per_s", batch_q / batch_s, "1/s")
    res.put("index_bytes_per_input_byte", index_ratio, "ratio")
    res.note("query_p50_s", p50, "s", f"n={len(singles)} single-query calls: "
             + ", ".join(f"{x:.3f}" for x in singles))
    t = tail(singles)
    if t is None:
        res.note("query_tail_s", float("nan"), "s",
                 f"n={len(singles)}: fewer than 11 samples, no percentile has 10 beyond it")
    else:
        res.note("query_tail_s", t[0], "s", f"p{t[1]:.1f} of n={t[2]}")
    res.note("eval_queries_per_s", batch_q / batch_s, "1/s",
             f"{batch_q} queries in batches of {len(inputs.batches[0])}: "
             + ", ".join(f"{x:.3f}" for x in batch_calls) + " s")
    res.note("upsert_p50_s", upsert_s, "s",
             f"n=1, {len(inputs.recrawl)} re-crawled turns")
    res.note("index_bytes_per_input_byte", index_ratio, "ratio",
             "after the re-crawl: three fragments and a delete vector")


#: name -> (set-up step timed into setup_s, or None; the timed window)
WORKLOADS = {"ingest": (None, ingest), "serve": (serve_setup, serve)}
