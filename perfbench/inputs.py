"""Seeded inputs: the transcript corpus, the query pool and the re-crawl.

The corpus comes from the package's own generator
(``synth.synth_transcripts`` + ``with_doc_id``: Zipf vocabulary plus
hot-term skew). The query pool and the re-crawl batch are drawn from it
with a NumPy generator seeded by the same seed, so one seed fixes every
input. Generated inputs are cached per seed under
``.bench_work/inputs``; generation is never timed.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generator changes, so stale caches are not reused
VERSION = 3
TURNS_PER_CONV = 8
#: share of existing turns each re-crawl rewrites
RECRAWL_FRAC = 0.01
#: queries per rankeval-style batch call (the sum of _queries' batch_mix)
BATCH_QUERIES = 64


@dataclass(frozen=True)
class Size:
    n_conv: int
    new_conv: int  # conversations a re-crawl appends
    single_pool: int
    batches: int


FULL = Size(n_conv=500, new_conv=10, single_pool=48, batches=6)
SMALL = Size(n_conv=60, new_conv=2, single_pool=12, batches=2)


@dataclass
class Inputs:
    corpus_path: str
    recrawl_path: str
    corpus: pd.DataFrame  # doc_id, text (oracle side)
    recrawl: pd.DataFrame
    singles: list[tuple[int, str, str]]  # (query_id, query, mode)
    batches: list[list[tuple[int, str]]]

    @property
    def n_turns(self) -> int:
        return len(self.corpus)

    def updated_corpus(self) -> pd.DataFrame:
        """The corpus after the re-crawl: rewritten turns replaced,
        appended conversations added."""
        kept = self.corpus[~self.corpus["doc_id"].isin(self.recrawl["doc_id"])]
        return pd.concat([kept, self.recrawl], ignore_index=True)


def _queries(corpus: pd.DataFrame, rng: np.random.Generator, size: Size):
    from mwmbl_spark.functions.tokenize import tokenize_py
    from mwmbl_spark.synth import HOT_TERMS

    docs = [tokenize_py(t) for t in corpus["text"]]
    df = Counter(t for toks in docs for t in set(toks))
    by_df = [t for t, _ in df.most_common()]
    mid = by_df[20:300]
    rare = [t for t in by_df if df[t] <= 3] or by_df[-50:]
    multi = [toks for toks in docs if len(set(toks)) >= 2]

    hot = itertools.cycle(HOT_TERMS)

    def pick(xs):
        return xs[int(rng.integers(len(xs)))]

    def pair() -> str:
        toks = pick(multi)
        a, b = rng.choice(sorted(set(toks)), size=2, replace=False)
        return f"{a} {b}"

    def bigram() -> str:
        toks = pick(multi)
        i = int(rng.integers(len(toks) - 1))
        return f"{toks[i]} {toks[i + 1]}"

    def oov(with_term: bool) -> str:
        word = "zq" + "".join(rng.choice(list("bcdfghjklmnpvx"), size=5))
        return f"{word} {pick(mid)}" if with_term else word

    kinds = {
        # the hot head is cycled, not drawn: its terms have the longest
        # posting lists, and a batch's posting work (which varied ~10%
        # between seeds) tracked its time
        "hot": lambda: next(hot),
        "mid": lambda: pick(mid),
        "rare": lambda: pick(rare),
        "pair": pair,
        "bigram": bigram,
        "oov": lambda: oov(False),
        "oov_pair": lambda: oov(True),
    }
    # the mix is fixed and only the terms are drawn, so every run's
    # first calls carry the same kinds of work whatever the seed. The
    # weights are assumptions: no query log was available to fit them
    single_cycle = [
        ("hot", "disjunctive"), ("mid", "disjunctive"), ("pair", "disjunctive"),
        ("rare", "disjunctive"), ("bigram", "disjunctive"), ("pair", "conjunctive"),
        ("oov_pair", "disjunctive"), ("bigram", "conjunctive"),
    ]
    batch_mix = {"hot": 10, "mid": 13, "rare": 10, "pair": 13, "bigram": 12,
                 "oov": 3, "oov_pair": 3}
    singles = [
        (qid, kinds[kind](), mode)
        for qid, (kind, mode) in enumerate(
            single_cycle[i % len(single_cycle)] for i in range(size.single_pool)
        )
    ]
    batches = []
    for b in range(size.batches):
        draws = [kinds[kind]() for kind, n in batch_mix.items() for _ in range(n)]
        batches.append([(b * BATCH_QUERIES + i, q) for i, q in enumerate(draws)])
    return singles, batches


def _recrawl(spark, corpus_path: str, schema: pa.Schema, seed: int,
             size: Size, rng: np.random.Generator) -> pa.Table:
    from pyspark.sql import functions as F

    from mwmbl_spark.synth import VOCAB_SIZE, synth_transcripts, with_doc_id

    full = pq.read_table(corpus_path).to_pandas()
    n = max(1, int(len(full) * RECRAWL_FRAC))
    idx = np.sort(rng.choice(len(full), size=n, replace=False))
    upd = full.iloc[idx].copy()
    # assumed re-crawl shape: each rewritten turn gains 6 Zipf words
    upd["text"] = [
        f"{t} " + " ".join(f"w{int(i) % VOCAB_SIZE:04d}" for i in rng.zipf(1.3, size=6))
        for t in upd["text"]
    ]
    new = with_doc_id(
        synth_transcripts(
            spark, n_conv=size.new_conv, turns_per_conv=TURNS_PER_CONV,
            seed=seed + 1_000_003,
        ).withColumn("conv_id", F.concat(F.lit("new-"), F.col("conv_id")))
    ).toPandas()
    out = pd.concat([upd, new[upd.columns]], ignore_index=True)
    return pa.Table.from_pandas(out, schema=schema, preserve_index=False)


def load_or_make(spark, work, seed: int, size: Size) -> Inputs:
    from mwmbl_spark.synth import synth_transcripts, with_doc_id

    key = f"v{VERSION}-c{size.n_conv}-s{seed}"
    d = work.inputs(key)
    corpus_path = os.path.join(d, "corpus")
    recrawl_path = os.path.join(d, "recrawl.parquet")
    qpath = os.path.join(d, "queries.json")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        (
            with_doc_id(
                synth_transcripts(
                    spark, n_conv=size.n_conv, turns_per_conv=TURNS_PER_CONV, seed=seed
                )
            )
            .write.parquet(corpus_path)
        )
        table = pq.read_table(corpus_path)
        corpus = table.select(["doc_id", "text"]).to_pandas()
        rng = np.random.default_rng([seed, 7919])
        singles, batches = _queries(corpus, rng, size)
        pq.write_table(
            _recrawl(spark, corpus_path, table.schema, seed, size, rng),
            recrawl_path,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        with open(qpath, "w") as fh:
            json.dump({"singles": singles, "batches": batches}, fh)
        open(os.path.join(d, "_DONE"), "w").close()
    with open(qpath) as fh:
        q = json.load(fh)
    return Inputs(
        corpus_path=corpus_path,
        recrawl_path=recrawl_path,
        corpus=pq.read_table(corpus_path, columns=["doc_id", "text"]).to_pandas(),
        recrawl=pq.read_table(recrawl_path, columns=["doc_id", "text"]).to_pandas(),
        singles=[tuple(x) for x in q["singles"]],
        batches=[[tuple(x) for x in b] for b in q["batches"]],
    )
