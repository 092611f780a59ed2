"""The workloads: serve and ingest_mixed.

Each runs closed-loop with one client thread against one Spark session and
returns a `Result`. Every response is kept and checked against the DuckDB
oracle after the timed section, so oracle work never lands in a timing.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from elasticsearch_assets_spark.index import build, tombstones
from elasticsearch_assets_spark.query import dsl, engine
from elasticsearch_assets_spark.streaming import index_stream

from perfbench import gen
from perfbench.oracle import Oracle, mismatch

SIZES = {
    # one positional index, built setup_reps times during set-up; build
    # throughput and lag are medians over the warm builds (all but the first)
    "serve": {"docs": 24_000, "setup_reps": 4, "warmup_requests": 6},
    # setup_reps warm-up epochs, then epochs until time is up
    "ingest_mixed": {
        "epoch_docs": 4_000, "max_epochs": 8, "burst": 5, "setup_reps": 3,
        # every epoch from the third on merges the two smallest chunks.
        # Other merge settings, and auto_purge_tombstones, return wrong or
        # no results on the current engine (README.md, "Known program
        # defects")
        "auto_compact_max_chunks": 2, "compact_merge_factor": 2,
    },
}


def du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def text_bytes(docs: pd.DataFrame) -> int:
    return int(docs["text"].str.encode("utf-8").str.len().sum())


@dataclass
class Op:
    """One verified request: which body, under which oracle state."""
    kind: str
    body: dict
    state: int
    rows: list
    latency_s: float
    t_end: float
    traced: bool = False


@dataclass
class Result:
    setup_parts: dict = field(default_factory=dict)
    setup_reps: list = field(default_factory=list)
    setup_builds: list = field(default_factory=list)
    requests: list = field(default_factory=list)  # measured Ops
    index_docs_per_s: float = 0.0
    lags: list = field(default_factory=list)
    index_bytes: int = 0
    text_bytes: int = 0
    docs: pd.DataFrame | None = None
    index_dir: str = ""
    failures: list = field(default_factory=list)
    attempted: int = 0
    info: dict = field(default_factory=dict)
    live_tombstones: list = field(default_factory=list)
    measure_t0: float = 0.0


class Bench:
    """Shared per-run state: session, inputs, work dir and the tracer."""

    def __init__(self, spark, seed: int, seconds: float, work: str, tracer=None,
                 probe=None):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.probe = probe  # traced-run per-request counters (run.Probe)
        self.pool = gen.query_pool(seed)
        self.draws = gen.draw_order(seed, 100_000)
        self.next_draw = 0
        self.ops: list[Op] = []
        # oracle states as (universe, excluded) doc ids; 0 = whole corpus
        self.states: list[tuple] = [(None, None)]
        # (state, N, avgdl) read from the index's meta after each build
        self.stat_checks: list[tuple] = []
        self.n_req = 0

    # -- inputs ---------------------------------------------------------------
    def materialize(self, docs: pd.DataFrame, name: str):
        """Write the generated docs as parquet and hand Spark the frame."""
        path = os.path.join(self.work, f"{name}.parquet")
        pq.write_table(
            pa.Table.from_pandas(docs, preserve_index=False), path,
            row_group_size=4_096,
        )
        return self.spark.read.parquet(path)

    def next_body(self) -> tuple[str, dict]:
        kind, body = self.pool[int(self.draws[self.next_draw])]
        self.next_draw += 1
        return kind, body

    # -- operations -----------------------------------------------------------
    def request(self, idx, kind: str, body: dict, state: int = 0) -> Op:
        """One closed-loop request: search_dsl(...).collect(). In the traced
        run every second request runs untraced, for the overhead figure."""
        traced = self.probe is not None and self.n_req % 2 == 0
        self.n_req += 1
        if traced:
            self.probe.begin(f"q{self.n_req}")
            t0 = time.perf_counter()
            with self.tracer.span("request"):
                frame = dsl.search_dsl(idx, body)
                with self.tracer.span("engine.collect"):
                    rows = frame.collect()
            t1 = time.perf_counter()
        else:
            if self.tracer is not None:
                self.tracer.active = False
            t0 = time.perf_counter()
            rows = dsl.search_dsl(idx, body).collect()
            t1 = time.perf_counter()
            if self.tracer is not None:
                self.tracer.active = True
        op = Op(kind, body, state, [(r["doc_id"], r["score"]) for r in rows],
                t1 - t0, t1, traced)
        if traced:
            self.probe.end_request(idx, body, len(rows))
        self.ops.append(op)
        return op

    def timed_build(self, fn, *args, **kwargs) -> float:
        """Run one build-side operation and return its wall time; in the
        traced run its Spark tasks are counted under its own job group."""
        if self.probe is not None:
            self.probe.begin(f"b{len(self.probe.build_tasks)}")
        t0 = time.perf_counter()
        fn(*args, **kwargs)
        dt = time.perf_counter() - t0
        if self.probe is not None:
            self.probe.end_build()
        return dt

    def top_up(self, idx, res: Result, state: int = 0) -> None:
        """Traced run only: one request of each body type the draws missed,
        so every per-type latency has a sample."""
        seen = {o.kind for o in res.requests}
        for kind, body in self.pool:
            if kind not in seen:
                seen.add(kind)
                res.requests.append(self.request(idx, kind, body, state))

    # -- verification -----------------------------------------------------------
    def verify(self, docs: pd.DataFrame, res: Result) -> None:
        """Check every kept response against the oracle, one oracle answer
        per (state, body)."""
        oracle = Oracle(docs)
        try:
            cache: dict = {}
            current = None
            for op in sorted(self.ops, key=lambda o: o.state):
                if op.state != current:
                    oracle.set_state(*self.states[op.state])
                    current = op.state
                key = (op.state, repr(op.body))
                if key not in cache:
                    cache[key] = oracle.topk(op.body, ties=True)
                bad = mismatch(op.rows, cache[key], op.body["size"])
                res.attempted += 1
                if bad:
                    res.failures.append(f"{op.kind} {op.body['query']}: {bad}")
            for state, n_docs, avgdl in self.stat_checks:
                oracle.set_state(*self.states[state])
                want_n, want_avgdl = oracle.stats()
                res.attempted += 1
                if n_docs != want_n or abs(avgdl - want_avgdl) > 1e-9 * want_avgdl:
                    res.failures.append(
                        f"index stats N={n_docs} avgdl={avgdl}, oracle "
                        f"N={want_n} avgdl={want_avgdl}")
        finally:
            oracle.close()


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def serve(b: Bench, res: Result) -> None:
    n, reps = SIZES["serve"]["docs"], SIZES["serve"]["setup_reps"]
    t = time.perf_counter()
    docs = gen.corpus(b.seed, n)
    corpus = b.materialize(docs, "corpus")
    res.setup_parts["corpus_s"] = time.perf_counter() - t
    idx = None
    for rep in range(reps):
        t0 = time.perf_counter()
        d = os.path.join(b.work, f"serve{rep}")
        dt = b.timed_build(build.build_index, b.spark, corpus, d, positions=True)
        idx = engine.InvertedIndex(b.spark, d)
        op = b.request(idx, *b.pool[0])
        res.setup_reps.append(time.perf_counter() - t0)
        res.setup_builds.append(dt)
        if rep > 0:  # the first build runs cold: JIT and worker imports
            res.lags.append(op.t_end - t0)
        if rep < reps - 1:
            shutil.rmtree(d)
    b.stat_checks.append((0, idx.meta.n_docs, idx.meta.avgdl))
    res.index_docs_per_s = _med([n / s for s in res.setup_builds[1:]])
    res.index_dir = d
    # request latency keeps falling over the first requests (worker and
    # JIT warm-up); let it settle before timing
    t = time.perf_counter()
    for kind, body in b.pool[: SIZES["serve"]["warmup_requests"]]:
        b.request(idx, kind, body)
    res.setup_parts["warmup_s"] = time.perf_counter() - t
    res.measure_t0 = time.perf_counter()
    deadline = res.measure_t0 + b.seconds
    while time.perf_counter() < deadline:
        res.requests.append(b.request(idx, *b.next_body()))
    if b.probe is not None:
        b.top_up(idx, res)
    res.info["repeat_ratio"] = gen.repeat_ratio(b.draws[: b.next_draw])
    res.index_bytes = du(d)
    res.text_bytes = text_bytes(docs)
    res.docs = docs


def ingest_mixed(b: Bench, res: Result) -> None:
    cfg = SIZES["ingest_mixed"]
    e_docs, max_epochs = cfg["epoch_docs"], cfg["max_epochs"]
    t = time.perf_counter()
    docs = gen.corpus(b.seed, e_docs * max_epochs)
    corpus = b.materialize(docs, "corpus")
    res.setup_parts["corpus_s"] = time.perf_counter() - t
    ids = docs["doc_id"].to_numpy()
    d = os.path.join(b.work, "stream")
    writer = index_stream.StreamingIndexWriter(
        d,
        positions=True,  # the serve mix includes match_phrase
        auto_compact_max_chunks=cfg["auto_compact_max_chunks"],
        compact_merge_factor=cfg["compact_merge_factor"],
    )
    rng = np.random.default_rng([b.seed, 4])
    ingested = np.array([], dtype=np.int64)
    deleted = np.array([], dtype=np.int64)
    idx = None
    write_s, measured_docs = 0.0, 0
    deadline = None
    e = 0
    while e < max_epochs:
        measuring = e >= cfg["setup_reps"]
        if measuring and deadline is None:
            res.measure_t0 = time.perf_counter()
            deadline = res.measure_t0 + b.seconds
        if measuring and time.perf_counter() >= deadline:
            break
        lo, hi = int(ids[e * e_docs]), int(ids[(e + 1) * e_docs - 1])
        batch = corpus.where(f"doc_id >= {lo} AND doc_id <= {hi}")
        t0 = time.perf_counter()
        epoch_s = b.timed_build(writer, batch, e)
        ingested = np.concatenate([ingested, ids[e * e_docs:(e + 1) * e_docs]])
        victims = gen.delete_sample(rng, np.setdiff1d(ingested, deleted))
        tombstones.add_tombstones(d, victims.tolist())
        deleted = np.union1d(deleted, victims)
        if idx is None:
            idx = engine.InvertedIndex(b.spark, d)
        else:
            idx.refresh_tombstones()
        t_written = time.perf_counter()
        # deleted docs still count in df/N/avgdl (nothing purges them) but
        # are never ranked
        b.states.append((ingested.copy(), deleted.copy()))
        state = len(b.states) - 1
        b.stat_checks.append((state, idx.meta.n_docs, idx.meta.avgdl))
        res.live_tombstones.append(int(idx.tombstones.size))
        first = None
        for _ in range(cfg["burst"] if measuring else 1):
            op = b.request(idx, *(b.next_body() if measuring else b.pool[0]),
                           state=state)
            first = first or op
            if measuring:
                res.requests.append(op)
        if measuring:
            write_s += t_written - t0
            measured_docs += e_docs
            res.lags.append(first.t_end - t0)
        else:
            res.setup_reps.append(time.perf_counter() - t0)
            res.setup_builds.append(epoch_s)
        e += 1
    if b.probe is not None:
        b.top_up(idx, res, len(b.states) - 1)
    res.info["epochs"] = e
    res.info["measured_epochs"] = e - cfg["setup_reps"]
    res.index_docs_per_s = measured_docs / write_s if write_s else 0.0
    res.info["repeat_ratio"] = gen.repeat_ratio(b.draws[: b.next_draw])
    res.index_bytes = du(d)
    res.index_dir = d
    res.text_bytes = text_bytes(docs.iloc[: e * e_docs])
    res.docs = docs.iloc[: e * e_docs]


WORKLOADS = {"serve": serve, "ingest_mixed": ingest_mixed}
