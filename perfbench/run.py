"""Benchmark of the full-text engine: one workload per invocation.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Runs from any checkout of the repository (it chdirs to the checkout root),
builds nothing, and writes only under `.perfbench_work/` there, which it
removes at exit. With `--trace 0` the last stdout line is the JSON result
with every end-to-end metric; with `--trace 1` it carries every per-layer
metric instead. A human-readable report precedes it. Exit status is 0 only
when every response matched the oracle.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# name -> unit; kept equal to BENCHMARK.json (tests/test_selftest.py)
END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "index_docs_per_s": "docs/s",
    "searchable_lag_p50_s": "s",
    "index_bytes_per_text_byte": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "setup.corpus_s": "s",
    "setup.index_build_s": "s",
    "analysis.tokenize_mb_per_s": "MB/s",
    "codec.encode_mb_per_s": "MB/s",
    "codec.decode_mb_per_s": "MB/s",
    "build.build_chunk_s": "s",
    "build.build_chunk_calls": "count",
    "build.finalize_index_s": "s",
    "build.finalize_growth": "ratio",
    "build.spark_tasks": "count",
    "build.segment_bytes": "bytes",
    "merge.merge_chunks_s": "s",
    "merge.cycles": "count",
    "merge.bytes_rewritten_per_text_byte": "ratio",
    "tombstones.add_ms": "ms",
    "tombstones.live_count": "count",
    "streaming.epoch_s": "s",
    "streaming.refresh_s": "s",
    "dsl.compile_ms": "ms",
    "engine.term_stats_ms": "ms",
    "engine.plan_ms": "ms",
    "engine.execute_ms": "ms",
    "engine.refresh_tombstones_ms": "ms",
    "engine.spark_jobs_per_query": "count",
    "engine.spark_tasks_per_query": "count",
    "engine.postings_rows_per_query": "count",
    "engine.postings_bytes_per_query": "bytes",
    "engine.postings_per_hit": "ratio",
    "engine.segment_files": "count",
    "query.match_or.p50_ms": "ms",
    "query.match_and.p50_ms": "ms",
    "query.bool_must_not.p50_ms": "ms",
    "query.bool_should_msm.p50_ms": "ms",
    "query.term_tail.p50_ms": "ms",
    "query.match_phrase.p50_ms": "ms",
    "trace.unattributed_ms": "ms",
    "trace.overhead_ms": "ms",
}

P90_MIN_REQUESTS = 100  # p90 keeps >= 10 samples beyond it


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout."""
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _import_worker_modules(batches):
    """Tiny mapInPandas body: makes each Python worker import the engine,
    so set-up, not the first timed operation, pays worker start."""
    import elasticsearch_assets_spark.index.build  # noqa: F401
    import elasticsearch_assets_spark.query.engine  # noqa: F401

    yield from batches


def start_spark(work: Path):
    from elasticsearch_assets_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # a serving JVM's heap is committed up front, so the memory
            # figure does not swing with when G1 decides to grow the heap
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -Xms2g -XX:+AlwaysPreTouch",
        },
    )
    spark.range(0, cpus, numPartitions=cpus).mapInPandas(
        _import_worker_modules, "id long"
    ).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# -- traced run --------------------------------------------------------------

class Probe:
    """Traced-run counters taken at request and build boundaries: Spark
    jobs/tasks from a per-operation job group, and posting rows/bytes read
    from a catalogue of the index's segment files."""

    def __init__(self, spark, tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.build_tasks: list[int] = []
        self.requests: list[dict] = []
        self.group = None
        self._cat_key = None
        self._cat = None

    def begin(self, group: str) -> None:
        self.group = group
        self.tracer.request = group
        self.sc.setJobGroup(group, group)

    def _finish(self) -> tuple[int, int]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.tracer.request = None
        return spark_counts(self.sc, self.group)

    def end_build(self) -> None:
        self.build_tasks.append(self._finish()[1])

    def end_request(self, idx, body: dict, hits: int) -> None:
        from perfbench.oracle import spec

        jobs, tasks = self._finish()
        terms, files = self.catalogue(idx.index_dir)
        s = spec(body)
        fetched = [terms.get(t, (0, 0, 0)) for t in set(s["terms"]) | set(s["not_terms"])]
        rows = sum(f[0] for f in fetched)
        postings = sum(f[1] for f in fetched)
        self.requests.append({
            "jobs": jobs, "tasks": tasks, "rows": rows,
            "postings": postings, "bytes": sum(f[2] for f in fetched),
            "per_hit": postings / max(1, hits), "files": files,
        })

    def catalogue(self, index_dir: str):
        """term -> (segment rows, postings, encoded bytes), and the number of
        segment files; re-read only when the file set changes."""
        import pandas as pd
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        files = sorted(glob.glob(os.path.join(index_dir, "segments", "*", "*.parquet")))
        key = tuple((f, os.path.getmtime(f)) for f in files)
        if key != self._cat_key:
            parts = []
            for f in files:
                t = pq.read_table(f)
                nbytes = sum(
                    pc.fill_null(pc.binary_length(t[c]), 0).to_numpy()
                    for c in ("doc_gaps", "tfs_enc", "doclens_enc", "pos_enc")
                    if c in t.column_names
                )
                parts.append(pd.DataFrame({
                    "term": t["term"].to_numpy(zero_copy_only=False),
                    "df": t["df"].to_numpy(), "enc": nbytes,
                }))
            g = pd.concat(parts).groupby("term").agg(
                rows=("df", "size"), postings=("df", "sum"), enc=("enc", "sum"))
            self._cat = dict(zip(g.index, zip(
                g["rows"].astype(int), g["postings"].astype(int), g["enc"].astype(int))))
            self._cat_key = key
        return self._cat, len(files)


def spark_counts(sc, group: str, timeout_s: float = 5.0) -> tuple[int, int]:
    """(jobs, completed tasks) of a job group, once the status tracker has
    seen every job finish."""
    st = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while True:
        ids = st.getJobIdsForGroup(group)
        infos = [st.getJobInfo(j) for j in ids]
        done = all(i is not None and str(i.status) in ("SUCCEEDED", "FAILED")
                   for i in infos)
        if done or time.monotonic() > deadline:
            break
        time.sleep(0.02)
    tasks = 0
    for info in infos:
        for sid in (info.stageIds if info else []):
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numCompletedTasks
    return len(ids), tasks


def instrument(tracer, probe) -> None:
    """Wrap each layer's public functions, in every namespace bound to them."""
    from elasticsearch_assets_spark.index import build, merge, tombstones
    from elasticsearch_assets_spark.query import dsl, engine
    from elasticsearch_assets_spark.streaming import index_stream
    from perfbench.workloads import du

    def merged_bytes(new_chunk, args, kwargs):
        return {"bytes": du(os.path.join(args[1], "segments", f"chunk={new_chunk}"))}

    tracer.wrap([build], "build_index", "build.build_index")
    tracer.wrap([build, index_stream], "build_chunk", "build.build_chunk")
    tracer.wrap([build, index_stream], "finalize_index", "build.finalize_index")
    tracer.wrap([merge], "merge_chunks", "merge.merge_chunks", after=merged_bytes)
    tracer.wrap([tombstones], "add_tombstones", "tombstones.add_tombstones")
    tracer.wrap([index_stream.StreamingIndexWriter], "__call__", "streaming.epoch")
    tracer.wrap([index_stream.StreamingIndexWriter], "refresh", "streaming.refresh")
    tracer.wrap([dsl], "search_dsl", "dsl.search_dsl")
    tracer.wrap([dsl], "compile_body", "dsl.compile_body")
    tracer.wrap([engine.InvertedIndex], "term_stats", "engine.term_stats")
    tracer.wrap([engine.InvertedIndex], "refresh_tombstones", "engine.refresh_tombstones")


def micro(docs, index_dir: str, pool) -> dict:
    """Layer throughputs measured in the Spark driver process on fixed
    inputs: tokenizer and codec encode on the first 4k corpus docs, codec
    decode on the index's posting rows for the query pool's terms."""
    import numpy as np
    import pyarrow.dataset as ds

    from elasticsearch_assets_spark.analysis.tokenizer import encode_tokens, tokenize_flat
    from elasticsearch_assets_spark.index.codec import (
        decode_postings_concat, encode_postings_batch)
    from perfbench.oracle import spec
    from perfbench.workloads import text_bytes

    def median_time(fn, reps=5):
        ts = []
        for _ in range(reps):
            t = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t)
        return _med(ts)

    sample = docs.iloc[:4000].reset_index(drop=True)
    texts = sample["text"]
    tok_s = median_time(lambda: encode_tokens(tokenize_flat(texts)[0]))
    flat, lens = tokenize_flat(texts)
    codes, _ = encode_tokens(flat)
    n = len(texts)
    uk, tfs = np.unique(codes * n + np.repeat(np.arange(n), lens), return_counts=True)
    code, di = uk // n, uk % n
    starts = np.flatnonzero(np.r_[True, code[1:] != code[:-1]])
    ends = np.r_[starts[1:], code.size]
    doc_ids = sample["doc_id"].to_numpy(dtype=np.int64)[di]
    enc_s = median_time(lambda: encode_postings_batch(doc_ids, tfs, lens[di], starts, ends))

    terms = sorted({t for _, b in pool for t in spec(b)["terms"]})
    table = ds.dataset(os.path.join(index_dir, "segments"), format="parquet").to_table(
        columns=["doc_gaps", "tfs_enc", "doclens_enc"],
        filter=ds.field("term").isin(terms))
    cols = [table[c].to_pylist() for c in ("doc_gaps", "tfs_enc", "doclens_enc")]
    dec_bytes = sum(len(x) for c in cols for x in c)
    dec_s = median_time(lambda: decode_postings_concat(*cols))
    return {
        "analysis.tokenize_mb_per_s": text_bytes(sample) / 1e6 / tok_s,
        "codec.encode_mb_per_s": 3 * 8 * uk.size / 1e6 / enc_s,
        "codec.decode_mb_per_s": dec_bytes / 1e6 / dec_s,
    }


def layer_metrics(res, tracer, probe, micro_vals) -> dict:
    from perfbench.gen import BODY_TYPES
    from perfbench.spans import self_times
    from perfbench.workloads import du

    selft = self_times(tracer.spans)
    by_sid = {s.sid: s for s in tracer.spans}

    def durs(name, scale=1.0):
        return [s.dur * scale for s in tracer.named(name)]

    finals = durs("build.finalize_index")[1:]  # the first one runs cold
    merges = tracer.named("merge.merge_chunks")
    reqs = tracer.named("request")
    per_req: dict[str, dict] = {s.request: {"term_stats": 0.0} for s in reqs}
    for s in tracer.spans:
        r = per_req.get(s.request)
        if r is None:
            continue
        if s.name == "engine.term_stats":
            r["term_stats"] += s.dur
        elif s.name == "dsl.search_dsl" and s.parent is not None \
                and by_sid[s.parent].name == "request":
            r["plan"] = selft[s.sid]
        elif s.name == "engine.collect":
            r["execute"] = s.dur
    traced_lat = [o.latency_s for o in res.requests if o.traced]
    untraced_lat = [o.latency_s for o in res.requests if not o.traced]
    out = {
        "session.start_s": res.setup_parts["session_s"],
        "setup.corpus_s": res.setup_parts["corpus_s"],
        "setup.index_build_s": _med(res.setup_builds),
        **micro_vals,
        "build.build_chunk_s": _med(durs("build.build_chunk")),
        "build.build_chunk_calls": len(tracer.named("build.build_chunk")),
        "build.finalize_index_s": _med(durs("build.finalize_index")),
        "build.finalize_growth": finals[-1] / finals[0] if len(finals) > 1 else 1.0,
        "build.spark_tasks": _med(probe.build_tasks),
        "build.segment_bytes": du(os.path.join(res.index_dir, "segments")),
        "merge.merge_chunks_s": _med(durs("merge.merge_chunks")),
        "merge.cycles": len(merges),
        "merge.bytes_rewritten_per_text_byte":
            sum(s.counts.get("bytes", 0) for s in merges) / res.text_bytes,
        "tombstones.add_ms": _med(durs("tombstones.add_tombstones", 1e3)),
        "tombstones.live_count": _med(res.live_tombstones),
        "streaming.epoch_s": _med(durs("streaming.epoch")),
        "streaming.refresh_s": _med(durs("streaming.refresh")),
        "dsl.compile_ms": _med(durs("dsl.compile_body", 1e3)),
        "engine.term_stats_ms": _med([r["term_stats"] * 1e3 for r in per_req.values()]),
        "engine.plan_ms": _med([r["plan"] * 1e3 for r in per_req.values() if "plan" in r]),
        "engine.execute_ms": _med([r["execute"] * 1e3 for r in per_req.values() if "execute" in r]),
        "engine.refresh_tombstones_ms": _med(durs("engine.refresh_tombstones", 1e3)),
        "engine.spark_jobs_per_query": _med([r["jobs"] for r in probe.requests]),
        "engine.spark_tasks_per_query": _med([r["tasks"] for r in probe.requests]),
        "engine.postings_rows_per_query": _med([r["rows"] for r in probe.requests]),
        "engine.postings_bytes_per_query": _med([r["bytes"] for r in probe.requests]),
        "engine.postings_per_hit": _med([r["per_hit"] for r in probe.requests]),
        "engine.segment_files": _med([r["files"] for r in probe.requests]),
        "trace.unattributed_ms": _med([selft[s.sid] * 1e3 for s in reqs]),
        "trace.overhead_ms": (_med(traced_lat) - _med(untraced_lat)) * 1e3
        if traced_lat and untraced_lat else 0.0,
    }
    for kind in BODY_TYPES:
        out[f"query.{kind}.p50_ms"] = _med(
            [o.latency_s * 1e3 for o in res.requests if o.kind == kind])
    return out


def span_summary(tracer) -> dict:
    """name -> (calls, total seconds, self seconds) over every span."""
    from perfbench.spans import self_times

    selft = self_times(tracer.spans)
    out: dict[str, tuple] = {}
    for sp in tracer.spans:
        calls, total, own = out.get(sp.name, (0, 0.0, 0.0))
        out[sp.name] = (calls + 1, total + sp.dur, own + selft[sp.sid])
    return dict(sorted(out.items()))


def end_to_end(res, peak_mem: int) -> dict:
    p = res.setup_parts
    return {
        "setup_s": p["session_s"] + p["corpus_s"] + _med(res.setup_reps)
        + p.get("warmup_s", 0.0),
        "query_p50_ms": _med([o.latency_s for o in res.requests]) * 1e3,
        "index_docs_per_s": res.index_docs_per_s,
        "searchable_lag_p50_s": _med(res.lags),
        "index_bytes_per_text_byte": res.index_bytes / res.text_bytes,
        "peak_rss_mb": peak_mem / 2**20,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["serve", "ingest_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    os.chdir(ROOT)
    sys.path.insert(0, str(ROOT))
    # fails here, before any output, when the engine is not in the checkout
    import elasticsearch_assets_spark.session  # noqa: F401

    from perfbench import gen
    from perfbench.spans import PeakMemory, Tracer
    from perfbench.workloads import SIZES, WORKLOADS, Bench, Result

    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    _prepare_env(work)
    res = Result()
    drift = gen.check_generator()
    tracer = Tracer() if args.trace else None
    spark = None
    try:
        with PeakMemory() as mem:
            t = time.perf_counter()
            spark = start_spark(work)
            res.setup_parts["session_s"] = time.perf_counter() - t
            probe = None
            if tracer is not None:
                probe = Probe(spark, tracer)
                instrument(tracer, probe)
            bench = Bench(spark, args.seed, args.seconds, str(work), tracer, probe)
            WORKLOADS[args.workload](bench, res)
            measure_s = time.perf_counter() - res.measure_t0
        if tracer is not None:
            tracer.unwrap_all()
        bench.verify(res.docs, res)
        micro_vals = micro(res.docs, res.index_dir, bench.pool) if tracer else {}
    finally:
        if spark is not None:
            stop_spark(spark)
    if drift:
        res.failures.append(drift)
        res.attempted += 1
    e2e = end_to_end(res, mem.peak)
    layers = layer_metrics(res, tracer, probe, micro_vals) if tracer else {}
    shutil.rmtree(work, ignore_errors=True)

    n_req = len(res.requests)
    print(f"workload {args.workload}  seed {args.seed}  sizes {SIZES[args.workload]}")
    print(f"corpus fingerprint {gen.fingerprint(res.docs)}  docs {len(res.docs)}  "
          f"text {res.text_bytes / 1e6:.1f} MB")
    print(f"query pool {gen.POOL_SIZE} bodies  requests {n_req} in {measure_s:.1f} s  "
          f"repeat ratio {res.info.get('repeat_ratio', 0.0):.2f}  info {res.info}")
    print(f"samples: setup reps {len(res.setup_reps)}  requests {n_req}  "
          f"searchable-lag samples {len(res.lags)}")
    print(f"setup {res.setup_parts}  reps {[round(x, 2) for x in res.setup_reps]}  "
          f"builds {[round(x, 2) for x in res.setup_builds]}  "
          f"lags {[round(x, 2) for x in res.lags]}")
    print(f"latencies {[(o.kind, round(o.latency_s, 3)) for o in res.requests]}")
    for name, unit in END_TO_END.items():
        print(f"  {name:28s} {e2e[name]:14.4f} {unit}")
    if n_req >= P90_MIN_REQUESTS:
        lat = sorted(o.latency_s for o in res.requests)
        print(f"  {'query_p90_ms':28s} {lat[int(0.9 * n_req)] * 1e3:14.4f} ms")
    else:
        print(f"  query_p90_ms: not reported ({n_req} < {P90_MIN_REQUESTS} requests)")
    failed = len(res.failures)
    print(f"  {'failed_frac':28s} {failed / max(1, res.attempted):14.4f} "
          f"({failed} of {res.attempted} operations)")
    for name, value in layers.items():
        print(f"  {name:40s} {value:14.4f} {PER_LAYER[name]}")
    if tracer is not None:
        print(f"spans: {len(tracer.spans)} recorded; per name: calls, total s, self s")
        for name, (calls, total, own) in span_summary(tracer).items():
            print(f"  {name:32s} {calls:6d} {total:10.3f} {own:10.3f}")
    for f in res.failures[:20]:
        print("MISMATCH", f)
    metrics = layers if tracer else e2e
    units = PER_LAYER if tracer else END_TO_END
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
