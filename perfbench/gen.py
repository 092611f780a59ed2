"""Seeded workload inputs: seed -> corpus ids, query pool, draw order and
delete samples.

Corpus text comes from the program's own generator
(``datagen.pages.pages_pandas``), whose rows are a pure function of the doc
id, so the seed only picks the id offset. A fixed probe corpus is
fingerprinted against a pinned digest so that an edit to the generator
cannot silently change what a workload measures.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from elasticsearch_assets_spark.datagen.pages import VOCAB, pages_pandas

# sha256 prefix of the probe corpus (ids 0..1999); see check_generator()
PROBE_IDS = 2000
PROBE_FINGERPRINT = "b51197525f179a12"

POOL_SIZE = 64
ZIPF_S = 1.1  # body-popularity skew of the request stream
DELETE_FRAC = 0.005  # share of live docs deleted per ingest epoch

BODY_TYPES = (
    "match_or", "match_and", "bool_must_not", "bool_should_msm",
    "term_tail", "match_phrase",
)

# rank bands of the Zipf vocabulary (rank r has weight 1/(r+2))
HEAD = (0, 40)
MID = (40, 400)
TAIL = (400, len(VOCAB))


def corpus(seed: int, n: int, stream: int = 0) -> pd.DataFrame:
    """(doc_id, text) for n docs at the seed's id offset; `stream`
    separates corpora of one seed. Text depends on the id alone; the first
    argument of pages_pandas only scales timestamps, which must stay in
    range for the offset ids."""
    rng = np.random.default_rng([seed, 1, stream])
    offset = int(rng.integers(1, 400)) * 2_000_000
    ids = np.arange(offset, offset + n, dtype=np.int64)
    pdf = pages_pandas(offset + n, ids=ids)
    return pdf[["doc_id", "text"]].reset_index(drop=True)


def fingerprint(docs: pd.DataFrame) -> str:
    h = hashlib.sha256()
    h.update(docs["doc_id"].to_numpy(dtype=np.int64).tobytes())
    for t in docs["text"]:
        h.update(t.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def check_generator() -> str | None:
    """None when the generator still produces the pinned probe corpus,
    else a message naming the drift."""
    pdf = pages_pandas(PROBE_IDS)[["doc_id", "text"]]
    got = fingerprint(pdf)
    if got != PROBE_FINGERPRINT:
        return (f"datagen.pages changed: probe fingerprint {got} != pinned "
                f"{PROBE_FINGERPRINT}; re-pin it in a benchmark-only change")
    return None


def _pick(rng, band, k=1) -> list[str]:
    ranks = rng.choice(np.arange(*band), size=k, replace=False)
    return [VOCAB[int(r)] for r in ranks]


def make_body(kind: str, rng) -> dict:
    """One ES request body of the given type, terms drawn by rank band."""
    if kind == "match_or":
        terms = _pick(rng, HEAD) + _pick(rng, MID) + _pick(rng, TAIL)
        q = {"match": {"text": " ".join(terms[: 2 + int(rng.integers(0, 2))])}}
    elif kind == "match_and":
        terms = _pick(rng, HEAD) + _pick(rng, MID)
        q = {"match": {"text": {"query": " ".join(terms), "operator": "and"}}}
    elif kind == "bool_must_not":
        must = _pick(rng, MID, 2)
        q = {"bool": {"must": [{"match": {"text": " ".join(must)}}],
                      "must_not": [{"match": {"text": _pick(rng, HEAD)[0]}}]}}
    elif kind == "bool_should_msm":
        terms = _pick(rng, HEAD) + _pick(rng, MID, 2)
        q = {"bool": {"should": [{"term": {"text": t}} for t in terms],
                      "minimum_should_match": 2}}
    elif kind == "term_tail":
        q = {"term": {"text": _pick(rng, TAIL)[0]}}
    elif kind == "match_phrase":
        q = {"match_phrase": {"text": " ".join(_pick(rng, HEAD, 2))}}
    else:
        raise ValueError(kind)
    return {"query": q, "size": 10}


def query_pool(seed: int) -> list[tuple[str, dict]]:
    """POOL_SIZE distinct (type, body) pairs; pool index j has type
    j % len(BODY_TYPES)."""
    rng = np.random.default_rng([seed, 2])
    pool, seen = [], set()
    while len(pool) < POOL_SIZE:
        kind = BODY_TYPES[len(pool) % len(BODY_TYPES)]
        body = make_body(kind, rng)
        key = repr(body)
        if key not in seen:
            seen.add(key)
            pool.append((kind, body))
    return pool


def draw_order(seed: int, n: int) -> np.ndarray:
    """n pool indices. Request i has type i % len(BODY_TYPES), so every run
    sends the same type mix whatever the seed; within a type, bodies repeat
    with Zipf popularity (its first pool body most popular)."""
    rng = np.random.default_rng([seed, 3])
    k = len(BODY_TYPES)
    out = np.empty(n, dtype=np.int64)
    for t in range(k):
        members = np.arange(t, POOL_SIZE, k)  # query_pool interleaves types
        w = 1.0 / np.arange(1, members.size + 1) ** ZIPF_S
        slots = np.arange(t, n, k)
        out[slots] = members[rng.choice(members.size, size=slots.size, p=w / w.sum())]
    return out


def repeat_ratio(draws) -> float:
    """Share of requests whose body was already sent earlier in the run."""
    return 1.0 - len(set(int(d) for d in draws)) / len(draws) if len(draws) else 0.0


def delete_sample(rng, live: np.ndarray) -> np.ndarray:
    """~DELETE_FRAC of the live doc ids (at least one)."""
    k = max(1, int(round(DELETE_FRAC * live.size)))
    return np.sort(rng.choice(live, size=k, replace=False))
