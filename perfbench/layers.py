"""The traced run: the engine's layers driven one public function at a
time, with spans recorded by this file around each call.

Each layer's output is staged (persisted and counted inside its span)
before the next layer reads it, so a span's time is that layer's own
work. Spans never nest and only one is open at a time, so every Spark
job in the event log belongs to the span whose interval holds its
submission time; stages and tasks follow their job. Task CPU, shuffle,
spill and GC come from Spark's uncompressed event log.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

import pyarrow.parquet as pq

from perfbench.harness import Ops, dir_bytes
from perfbench.inputs import Inputs
from perfbench.workloads import (
    BPE_BATCH,
    BPE_MERGES,
    K,
    NSALT,
    NUM_BUCKETS,
    Expected,
    index_config,
)


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark stamps events with
    end: float
    parent: str
    op_id: int


class Tracer:
    """Spans kept in memory and written out once, at the end. A disabled
    tracer records nothing, so the same drive runs untraced."""

    def __init__(self, enabled: bool, root: str):
        self.enabled = enabled
        self.root = root
        self.spans: list[Span] = []
        self._open = False
        self._ops = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        if self._open:
            raise RuntimeError(f"span {name!r} opened inside another span")
        self._open = True
        self._ops += 1
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.time(), self.root, self._ops))
            self._open = False

    def seconds(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def flush(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


@dataclass
class JobCost:
    jobs: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0


def attribute(eventlog_dir: str, spans: list[Span]) -> list[JobCost]:
    """Per-span Spark cost from the event log, in span order."""
    files = [f for f in glob.glob(os.path.join(eventlog_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {eventlog_dir}, found {files}")
    jobs: list[tuple[float, list[int]]] = []
    tasks: list[tuple[int, dict]] = []
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append((ev["Submission Time"] / 1000.0, ev["Stage IDs"]))
            elif kind == "SparkListenerTaskEnd":
                tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    costs = [JobCost() for _ in spans]

    def owner(t: float) -> int | None:
        for i, s in enumerate(spans):
            if s.start <= t <= s.end:
                return i
        return None

    stage_owner: dict[int, int | None] = {}
    for submitted, stage_ids in sorted(jobs):
        i = owner(submitted)
        if i is not None:
            costs[i].jobs += 1
        for sid in stage_ids:
            stage_owner.setdefault(sid, i)
    for sid, m in tasks:
        i = stage_owner.get(sid)
        if i is None:
            continue
        c = costs[i]
        c.tasks += 1
        c.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
        c.gc_s += m.get("JVM GC Time", 0) / 1e3
        c.spill_bytes += m.get("Disk Bytes Spilled", 0)
        c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
    return costs


def _stage(df):
    """Persist and materialize: the layer's output, computed once."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def _files(path: str, suffix: str = ".parquet") -> int:
    return sum(
        1 for _d, _s, fs in os.walk(path) for f in fs if f.endswith(suffix)
    )


def _fragment_bytes(index: str, part: str) -> int:
    return sum(
        dir_bytes(d) for d in glob.glob(os.path.join(index, "*", f"src_part={part}"))
    )


def cached_bytes(spark) -> int:
    """Spark storage (memory + disk) still held by cached relations."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def drive_index(spark, work, inputs: Inputs, tracer: Tracer, ops: Ops) -> dict:
    """The index layers once each, in plan order: build side, serving,
    refresh. Returns the counts measured on the way (spans and
    event-log costs are read by the caller)."""
    from pyspark.sql import functions as F

    from mwmbl_spark.functions.tokenize import tokenize_expr, tokenize_py
    from mwmbl_spark.manifest import commit_partition, partition_seqs
    from mwmbl_spark.operators.postings import build_postings_with_len, term_stats
    from mwmbl_spark.operators.segments import build_segments, prune_segments, write_segments
    from mwmbl_spark.operators.wand import wand_topk
    from mwmbl_spark.plans.build_index import IndexBuilder

    counts: dict[str, float] = {}
    corpus = spark.read.parquet(inputs.corpus_path)
    before = Expected(inputs.corpus)
    after = Expected(inputs.updated_corpus())
    live_after = (after.n_docs, after.sum_len)

    # -- build side, staged layer by layer --------------------------------
    with tracer.span("functions.tokenize"):
        toks = _stage(corpus.select("doc_id", tokenize_expr(F.col("text")).alias("toks")))
    counts["tokenize.tokens"] = toks.agg(F.sum(F.size("toks"))).collect()[0][0]
    with tracer.span("operators.postings"):
        posts = _stage(
            build_postings_with_len(corpus, include_empty_docs=True).where(
                F.col("term").isNotNull()
            )
        )
    counts["postings.rows"] = posts.count()
    with tracer.span("operators.postings.term_stats"):
        stats = _stage(term_stats(posts))
    ops.record(counts["tokenize.tokens"] == before.sum_len, "tokenize: token count")
    avg = before.sum_len / before.n_docs
    with tracer.span("operators.segments"):
        segs = _stage(
            build_segments(posts, None, stats, before.n_docs, avg, NUM_BUCKETS, NSALT)
        )
    counts["segments.rows"] = segs.count()
    counts["segments.bytes"] = segs.agg(
        F.sum(F.length("doc_ids") + F.length("tfs") + F.length("doc_lens"))
    ).collect()[0][0]
    staged_index = work.path("staged-index")
    with tracer.span("plans.build_index.write"):
        write_segments(segs, os.path.join(staged_index, "segments", "src_part=0"))
    counts["build_index.files_written"] = _files(os.path.join(staged_index, "segments"))
    with tracer.span("manifest.commit"):
        commit_partition(
            spark, staged_index, "0", before.n_docs, counts["postings.rows"], 0, seq=1
        )
    for df in (toks, posts, stats, segs):
        df.unpersist(blocking=True)

    # -- the real build, for its job/task profile --------------------------
    cfg = index_config(work.path("drive-index"))
    builder = IndexBuilder(spark, cfg)
    with tracer.span("plans.build_index"):
        builder.build(corpus)
    ops.record(builder.doc_totals() == (before.n_docs, before.sum_len), "build: doc totals")

    # -- serving ------------------------------------------------------------
    server = IndexBuilder(spark, cfg)
    with tracer.span("serving_state"):
        s_stats, n_docs, avg_len = server.cached_global_stats()
        deletes = server.delete_broadcast()
        s_segs = server.segments()
    for qid, q, mode in inputs.singles[:1]:
        with tracer.span("operators.wand"):
            rows = wand_topk(
                s_segs, s_stats, [(qid, q)], n_docs, avg_len, k=K, mode=mode,
                num_buckets=NUM_BUCKETS, deletes=deletes,
            ).collect()
        ops.record(before.check(rows, [(qid, q)], mode), f"wand single {q!r}")
    batch = inputs.batches[0]
    qdf = spark.createDataFrame(batch, "query_id long, query string")
    with tracer.span("operators.wand"):
        rows = wand_topk(
            s_segs, s_stats, qdf, n_docs, avg_len, k=K,
            num_buckets=NUM_BUCKETS, deletes=deletes,
        ).collect()
    ops.record(before.check(rows, batch), "wand batch")
    terms = sorted({t for _, q in batch for t in tokenize_py(q)})
    counts["wand.segment_rows"] = prune_segments(
        s_segs, spark.createDataFrame([(t,) for t in terms], "term string"), NUM_BUCKETS
    ).count()

    # -- refresh --------------------------------------------------------------
    recrawl = spark.read.parquet(inputs.recrawl_path)
    with tracer.span("operators.upsert"):
        part = builder.upsert(recrawl)
    ops.record(builder.doc_totals() == live_after, "upsert: doc totals")
    counts["upsert.delete_rows"] = sum(
        pq.read_metadata(f).num_rows
        for f in glob.glob(os.path.join(cfg.path, "deletes", f"src_part={part}", "*.parquet"))
    )
    counts["refresh.live_fragments"] = len(partition_seqs(spark, cfg.path))
    with tracer.span("operators.upsert.compact"):
        merged = builder.compact()
    ops.record(builder.doc_totals() == live_after, "compact: doc totals")
    counts["compact.bytes_rewritten"] = _fragment_bytes(cfg.path, merged) if merged else 0
    return counts


def drive_curation(spark, inputs: Inputs, tracer: Tracer, ops: Ops) -> None:
    """The curation layers once each, in the order of the curation pass."""
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

    corpus = spark.read.parquet(inputs.corpus_path)
    docs = _stage(
        corpus.select(
            "doc_id", "conv_id", "role", tokenize_pd(F.col("text")).alias("toks")
        )
    )
    with tracer.span("operators.repetition"):
        rep = _stage(repetition_features(docs))
    with tracer.span("operators.sampling"):
        feats = docs.select(
            "doc_id", "conv_id", "role", F.size("toks").alias("n_tokens")
        ).join(rep.select("doc_id", "top_bigram_frac"), "doc_id")
        mixed = temperature_mix(feats.where(F.col("top_bigram_frac") <= 0.5), "role")
        packed = _stage(
            pack_sequences(
                quota_sample(mixed, "conv_id", cap=6).select("doc_id", "n_tokens"),
                max_tokens=512, n_shards=8,
            )
        )
    with tracer.span("operators.corpus_analytics.top_ngrams"):
        top_ngrams(docs, n=2, k=20).collect()
    with tracer.span("operators.corpus_analytics.pmi_pairs"):
        pmi_pairs(docs, min_df=2, k=50).collect()
    wc = _stage(word_counts(corpus.select("doc_id", "text")))
    with tracer.span("operators.bpe.learn"):
        merges = learn_bpe(
            wc, n_merges=BPE_MERGES, min_count=2, batch=BPE_BATCH,
            driver_threshold=0, checkpoint_every=4,
        )
    ops.record(len(merges) == BPE_MERGES, "bpe: merge count")
    with tracer.span("operators.bpe.encode"):
        enc = bpe_encode(corpus.select("doc_id", "text"), merges).agg(
            F.count(F.lit(1))
        ).collect()[0][0]
    ops.record(enc == inputs.n_turns, "bpe encode: row count")
    for df in (docs, rep, packed, wc):
        df.unpersist(blocking=True)


def layer_metrics(tracer: Tracer, costs: list[JobCost], counts: dict,
                  first_job_s: float, cached_end: int, overhead: float) -> dict:
    """name -> (value, unit) for every per-layer metric of BENCHMARK.json."""
    by_name: dict[str, JobCost] = defaultdict(JobCost)
    n_calls: dict[str, int] = defaultdict(int)
    for s, c in zip(tracer.spans, costs):
        agg = by_name[s.name]
        n_calls[s.name] += 1
        for f in ("jobs", "tasks", "task_cpu_s", "shuffle_write_bytes", "spill_bytes", "gc_s"):
            setattr(agg, f, getattr(agg, f) + getattr(c, f))
    sec = tracer.seconds
    build = by_name["plans.build_index"]
    wand = by_name["operators.wand"]
    calls = max(1, n_calls["operators.wand"])
    return {
        "tokenize.s": (sec("functions.tokenize"), "s"),
        "tokenize.tokens": (counts["tokenize.tokens"], "count"),
        "postings.s": (sec("operators.postings"), "s"),
        "postings.rows": (counts["postings.rows"], "count"),
        "postings.term_stats_s": (sec("operators.postings.term_stats"), "s"),
        "segments.s": (sec("operators.segments"), "s"),
        "segments.rows": (counts["segments.rows"], "count"),
        "segments.bytes": (counts["segments.bytes"], "bytes"),
        "build_index.write_s": (sec("plans.build_index.write"), "s"),
        "manifest.commit_s": (sec("manifest.commit"), "s"),
        "build_index.files_written": (counts["build_index.files_written"], "count"),
        "build_index.jobs": (build.jobs, "count"),
        "build_index.tasks": (build.tasks, "count"),
        "build_index.task_cpu_s": (build.task_cpu_s, "s"),
        "build_index.shuffle_write_bytes": (build.shuffle_write_bytes, "bytes"),
        "build_index.spill_bytes": (build.spill_bytes, "bytes"),
        "build_index.gc_s": (build.gc_s, "s"),
        "serving_state.s": (sec("serving_state"), "s"),
        "wand.s": (sec("operators.wand"), "s"),
        "wand.jobs_per_call": (wand.jobs / calls, "count"),
        "wand.tasks_per_call": (wand.tasks / calls, "count"),
        "wand.task_cpu_s": (wand.task_cpu_s, "s"),
        "wand.segment_rows": (counts["wand.segment_rows"], "count"),
        "upsert.s": (sec("operators.upsert"), "s"),
        "upsert.jobs": (by_name["operators.upsert"].jobs, "count"),
        "upsert.delete_rows": (counts["upsert.delete_rows"], "count"),
        "refresh.live_fragments": (counts["refresh.live_fragments"], "count"),
        "compact.s": (sec("operators.upsert.compact"), "s"),
        "compact.jobs": (by_name["operators.upsert.compact"].jobs, "count"),
        "compact.bytes_rewritten": (counts["compact.bytes_rewritten"], "bytes"),
        "repetition.s": (sec("operators.repetition"), "s"),
        "sampling.s": (sec("operators.sampling"), "s"),
        "corpus_analytics.top_ngrams_s": (sec("operators.corpus_analytics.top_ngrams"), "s"),
        "corpus_analytics.pmi_s": (sec("operators.corpus_analytics.pmi_pairs"), "s"),
        "bpe.learn_s": (sec("operators.bpe.learn"), "s"),
        "bpe.jobs": (by_name["operators.bpe.learn"].jobs, "count"),
        "bpe.encode_s": (sec("operators.bpe.encode"), "s"),
        "session.first_job_s": (first_job_s, "s"),
        "storage.cached_bytes_end": (cached_end, "bytes"),
        "trace.overhead_frac": (overhead, "ratio"),
    }
