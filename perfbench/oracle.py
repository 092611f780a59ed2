"""Independent BM25 answers computed by DuckDB over the generated corpus.

The SQL follows the shapes of `_bm25_sql` / `_bm25_phrase_sql` in
`__spark_entry__.py` (one whitespace token stream, the same df/N/avgdl
definitions), but shares no code with the engine. Collection statistics
come from the `universe` docs (ingested and not yet purged); ranking
additionally drops `excluded` docs (tombstoned but not purged) — the
engine's deleted-docs contract.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

K1 = 1.2
B = 0.75
# Oracle scores closer than this (relative) are one tie: the same BM25 sum
# added up in another order differs in the last bit, so the order of such
# docs says nothing about the engine (see mismatch()).
TIE_REL = 1e-12


def q4(x: float) -> float:
    """The repo's score-comparison protocol: floor(x*1e4+0.5)/1e4."""
    return math.floor(x * 1e4 + 0.5) / 1e4


def spec(body: dict) -> dict:
    """Reduce a benchmark request body to what the oracle needs: scoring
    terms, the match rule, must-not terms and an optional phrase."""
    (kind, node), = body["query"].items()
    out = {"terms": [], "min_match": 1, "not_terms": [], "phrase": None,
           "k": body.get("size", 10)}
    if kind == "match":
        v = node["text"]
        if isinstance(v, dict):
            out["terms"] = sorted(set(v["query"].split()))
            if v.get("operator") == "and":
                out["min_match"] = len(out["terms"])
        else:
            out["terms"] = sorted(set(v.split()))
    elif kind == "term":
        out["terms"] = [node["text"]]
    elif kind == "match_phrase":
        words = node["text"].split()
        out["terms"] = sorted(set(words))
        out["min_match"] = len(out["terms"])
        out["phrase"] = words
    elif kind == "bool":
        if "should" in node:
            out["terms"] = sorted({c["term"]["text"] for c in node["should"]})
            out["min_match"] = int(node["minimum_should_match"])
        else:
            out["terms"] = sorted(set(node["must"][0]["match"]["text"].split()))
            out["not_terms"] = sorted(
                {t for c in node["must_not"] for t in c["match"]["text"].split()}
            )
    else:
        raise ValueError(f"oracle has no rule for {kind!r}")
    return out


def _lit(terms) -> str:
    return ", ".join(f"'{t}'" for t in terms)


class Oracle:
    """Token tables for a corpus, loaded once; answers top-k requests under
    a (universe, excluded) doc state."""

    def __init__(self, docs: pd.DataFrame):
        self.con = duckdb.connect()
        self.con.register("docs_df", docs[["doc_id", "text"]])
        self.con.execute("""
            CREATE TABLE ptoks AS
            SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                   unnest(range(len(string_split(text, ' ')))) AS pos
            FROM docs_df""")
        self.con.execute("""CREATE TABLE dl AS
            SELECT doc_id, count(*)::DOUBLE AS dl FROM ptoks GROUP BY doc_id""")
        self.con.execute("""CREATE TABLE tf AS
            SELECT doc_id, term, count(*)::DOUBLE AS tf FROM ptoks
            GROUP BY doc_id, term""")
        self.con.unregister("docs_df")
        self.set_state(None, None)

    def set_state(self, universe: np.ndarray | None, excluded: np.ndarray | None):
        """universe=None means every corpus doc; excluded=None means none."""
        self.con.execute("DROP TABLE IF EXISTS universe")
        self.con.execute("DROP TABLE IF EXISTS excluded")
        if universe is None:
            self.con.execute("CREATE TABLE universe AS SELECT doc_id FROM dl")
        else:
            u = pd.DataFrame({"doc_id": np.asarray(universe, dtype=np.int64)})
            self.con.execute("CREATE TABLE universe AS SELECT doc_id FROM u")
        e = pd.DataFrame({"doc_id": np.asarray(
            excluded if excluded is not None else [], dtype=np.int64)})
        self.con.execute("CREATE TABLE excluded AS SELECT doc_id FROM e")

    def stats(self) -> tuple[int, float]:
        """(N, avgdl) of the current universe."""
        n, avgdl = self.con.execute(
            "SELECT count(*), avg(dl) FROM dl JOIN universe USING (doc_id)"
        ).fetchone()
        return int(n), float(avgdl or 0.0)

    def df(self, terms) -> dict[str, int]:
        rows = self.con.execute(f"""
            SELECT term, count(*) FROM tf JOIN universe USING (doc_id)
            WHERE term IN ({_lit(terms)}) GROUP BY term""").fetchall()
        return {t: int(c) for t, c in rows}

    def topk(self, body: dict, ties: bool = False) -> list[tuple[int, float]]:
        """The top `size` hits, ordered (score desc, doc_id asc). With
        ties=True the hits after them whose scores tie the last one (within
        TIE_REL) follow: any of them may fill the last slots."""
        s = spec(body)
        conds = [f"m >= {s['min_match']}",
                 "doc_id NOT IN (SELECT doc_id FROM excluded)"]
        if s["not_terms"]:
            conds.append(f"""doc_id NOT IN (SELECT doc_id FROM tf
                WHERE term IN ({_lit(s['not_terms'])}))""")
        if s["phrase"]:
            joins = " ".join(
                f"JOIN ptoks p{i} ON p{i}.doc_id = p0.doc_id AND p{i}.pos = p0.pos + {i}"
                for i in range(1, len(s["phrase"]))
            )
            where = " AND ".join(
                f"p{i}.term = '{t}'" for i, t in enumerate(s["phrase"]))
            conds.append(f"doc_id IN (SELECT p0.doc_id FROM ptoks p0 {joins} WHERE {where})")
        sql = f"""
WITH dlu AS (SELECT doc_id, dl FROM dl JOIN universe USING (doc_id)),
stats AS (SELECT count(*)::DOUBLE AS n, sum(dl) / count(*) AS avgdl FROM dlu),
tfq AS (SELECT doc_id, term, tf FROM tf JOIN universe USING (doc_id)
        WHERE term IN ({_lit(s['terms'])})),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tfq GROUP BY term),
scored AS (
  SELECT tfq.doc_id AS doc_id, count(*) AS m,
         sum( ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
              * tfq.tf * ({K1} + 1)
              / (tfq.tf + {K1} * (1 - {B} + {B} * dlu.dl / stats.avgdl)) ) AS s
  FROM stats, tfq JOIN df USING (term) JOIN dlu USING (doc_id)
  GROUP BY tfq.doc_id
)
SELECT doc_id, s FROM scored WHERE {' AND '.join(conds)}
ORDER BY s DESC, doc_id ASC"""
        k = int(s["k"])
        if not ties:
            sql += f" LIMIT {k}"
        rows = [(int(d), float(v)) for d, v in self.con.execute(sql).fetchall()]
        return rows[:k] + [r for r in rows[k:] if _tied(r[1], rows[k - 1][1])]

    def close(self) -> None:
        self.con.close()


def _tied(a: float, b: float) -> bool:
    return abs(a - b) <= TIE_REL * max(1.0, abs(a), abs(b))


def mismatch(got, want, k: int | None = None) -> str | None:
    """None when `got` is a right top-k for the oracle ranking `want`, else
    a one-line description of the first difference.

    `got` must be in the engine's order, score desc then doc_id asc, with no
    doc twice. Position by position, its q4 score must equal the oracle's
    and its doc id must be the oracle's, except that docs whose oracle
    scores tie (within TIE_REL) may come in any order; `want` may run past
    k with the docs tied at the cut (Oracle.topk(ties=True)). k defaults to
    len(want)."""
    k = len(want) if k is None else k
    g = [(int(d), float(s)) for d, s in got]
    w = [(int(d), float(s)) for d, s in want]
    n = min(k, len(w))
    if len(g) != n:
        return f"{len(g)} hits, oracle has {n}"
    if g != sorted(g, key=lambda r: (-r[1], r[0])):
        return f"hits not ordered by score desc, doc_id asc: {g}"
    if len({d for d, _ in g}) != n:
        return f"a doc is returned twice: {g}"
    group = [0]  # runs of tied oracle scores
    for (_, a), (_, b) in zip(w, w[1:]):
        group.append(group[-1] + (not _tied(a, b)))
    members: dict[int, set] = {}
    for (d, _), gi in zip(w, group):
        members.setdefault(gi, set()).add(d)
    for i in range(n):
        (gd, gs), (wd, ws) = g[i], w[i]
        if q4(gs) != q4(ws) or gd not in members[group[i]]:
            return f"rank {i}: got {(gd, q4(gs))}, oracle {(wd, q4(ws))}"
    return None
