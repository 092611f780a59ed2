"""Tiny-scale self-tests of the benchmark's own machinery (no Spark).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import sys
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, run  # noqa: E402
from perfbench.oracle import B, K1, Oracle, mismatch  # noqa: E402
from perfbench.spans import Span, Tracer, self_times  # noqa: E402
from perfbench.workloads import WORKLOADS, Result  # noqa: E402


def _naive_bm25_or(docs, terms, k):
    """Textbook BM25 over whitespace tokens, OR semantics."""
    toks = {int(d): t.split() for d, t in zip(docs["doc_id"], docs["text"])}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = {t: sum(1 for ts in toks.values() if t in ts) for t in terms}
    scores = {}
    for d, ts in toks.items():
        tf = Counter(ts)
        s = 0.0
        for t in terms:
            if tf[t]:
                idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                s += idf * tf[t] * (K1 + 1) / (
                    tf[t] + K1 * (1 - B + B * len(ts) / avgdl))
        if s:
            scores[d] = s
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


def test_oracle_matches_naive_bm25_and_flags_perturbed_topk():
    docs = gen.corpus(7, 300)
    oracle = Oracle(docs)
    try:
        body = {"query": {"match": {"text": "spark join term0100"}}, "size": 10}
        want = oracle.topk(body)
        assert len(want) == 10
        assert mismatch(_naive_bm25_or(docs, ["spark", "join", "term0100"], 10), want) is None
        assert mismatch(list(want), want) is None
        swapped = list(want)
        swapped[2], swapped[3] = swapped[3], swapped[2]
        assert mismatch(swapped, want)
        nudged = list(want)
        nudged[0] = (nudged[0][0], nudged[0][1] + 2e-4)
        assert mismatch(nudged, want)
        assert mismatch(want[:-1], want)
        # a tombstoned top hit must disappear from the ranking
        oracle.set_state(None, [want[0][0]])
        assert oracle.topk(body)[0][0] == want[1][0]
    finally:
        oracle.close()


def test_mismatch_treats_float_noise_ties_as_ties():
    # an engine answer seen on ingest_mixed: two docs with the same BM25 sum,
    # which DuckDB's summation order split by one ulp
    want = [(3462, 6.6684158190834815), (7502, 6.17269559965357),
            (12208, 6.1726955996535695), (13978, 6.147890376479636)]
    assert mismatch([want[0], (7502, 6.17269559965357), (12208, 6.17269559965357),
                     want[3]], want) is None
    # the engine's own order must still be score desc, doc_id asc
    assert mismatch([want[0], (12208, 6.17269559965357), (7502, 6.17269559965357),
                     want[3]], want)
    # a real score gap is not a tie
    assert mismatch([want[0], want[3], want[1], want[2]], want)
    # docs tied at the cut (topk(ties=True) lists them past k) may fill it
    assert mismatch([want[0], (12208, 6.17269559965357)], want[:3], k=2) is None
    assert mismatch([want[0], (13978, 6.17269559965357)], want[:3], k=2)
    assert mismatch([want[0], want[1], want[1], want[3]], want)


def test_oracle_lists_the_docs_tied_at_the_cut():
    docs = gen.corpus(7, 300)
    oracle = Oracle(docs)
    try:
        # hits 11 and 12 of this body tie
        body = {"query": {"match": {"text": "count term0014"}}, "size": 11}
        full = oracle.topk(dict(body, size=300))
        rows = oracle.topk(body, ties=True)
        assert len(rows) == 12 and rows[:11] == oracle.topk(body)
        assert rows == [r for r in full if r in rows[:11] or abs(r[1] - rows[10][1]) <= 1e-9]
        assert mismatch(full[:10] + [full[11]], rows, k=11) is None
    finally:
        oracle.close()


def test_oracle_body_rules():
    docs = gen.corpus(7, 300)
    oracle = Oracle(docs)
    try:
        for kind, body in gen.query_pool(7)[: len(gen.BODY_TYPES)]:
            rows = oracle.topk(body)
            assert rows == sorted(rows, key=lambda r: (-r[1], r[0])), kind
    finally:
        oracle.close()


def test_self_time_arithmetic_on_hand_built_tree():
    spans = [
        Span(0, None, "r", "request", 0.0, 10.0),
        Span(1, 0, "r", "a", 1.0, 4.0),
        Span(2, 0, "r", "b", 3.0, 6.0),  # overlaps a: union is [1, 6]
        Span(3, 1, "r", "a.child", 2.0, 3.0),
        Span(4, None, "r", "lone", 20.0, 21.5),
    ]
    st = self_times(spans)
    assert st == {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0, 4: 1.5}
    tr = Tracer()
    tr.spans = spans
    assert run.span_summary(tr)["request"] == (1, 10.0, 5.0)
    assert run.span_summary(tr)["a"] == (1, 3.0, 2.0)


def test_tracer_wraps_and_restores():
    class Layer:
        @staticmethod
        def work(x):
            return x + 1

    tr = Tracer()
    tr.wrap([Layer], "work", "layer.work", after=lambda r, a, k: {"out": r})
    with tr.span("request"):
        assert Layer.work(1) == 2
    tr.active = False
    Layer.work(5)
    tr.unwrap_all()
    assert [s.name for s in tr.spans] == ["request", "layer.work"]
    assert tr.spans[1].parent == 0 and tr.spans[1].counts == {"out": 2}
    assert not hasattr(Layer.work, "__wrapped__")


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER

    res = Result(setup_parts={"session_s": 1.0, "corpus_s": 1.0},
                 text_bytes=1, index_dir="/nonexistent")

    class NoProbe:
        build_tasks: list = []
        requests: list = []

    assert set(run.end_to_end(res, 1)) == set(run.END_TO_END)
    assert set(run.layer_metrics(res, Tracer(), NoProbe(), {
        "analysis.tokenize_mb_per_s": 1.0, "codec.encode_mb_per_s": 1.0,
        "codec.decode_mb_per_s": 1.0,
    })) == set(run.PER_LAYER)


def test_seeded_inputs_are_reproducible():
    assert gen.check_generator() is None
    assert gen.fingerprint(gen.corpus(3, 50)) == gen.fingerprint(gen.corpus(3, 50))
    assert gen.fingerprint(gen.corpus(3, 50)) != gen.fingerprint(gen.corpus(4, 50))
    assert gen.query_pool(3) == gen.query_pool(3)
    pool = gen.query_pool(3)
    assert len({repr(b) for _, b in pool}) == gen.POOL_SIZE
    assert (gen.draw_order(3, 200) == gen.draw_order(3, 200)).all()
