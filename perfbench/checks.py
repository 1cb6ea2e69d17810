"""Output checks: exact agreement with the single-process BM25 oracle on a
fixed sample of queries, and per-batch invariants on every result.

Golden rankings follow the engine's documented contract: deleted docs are
masked from results while corpus statistics stay full-corpus; ``and``
keeps docs holding every distinct query term; ``boolean`` scores the
positive terms disjunctively over the docs the tree matches. The match
sets come from the benchmark's own description of each generated query,
never from the program's query parser.
"""

from __future__ import annotations

import pandas as pd

from angle_spark.oracle import Bm25Oracle


def invariant_errors(res: pd.DataFrame, queries: list[dict], deleted: set[int]) -> list[str]:
    """<= k rows per query, ranks 1..n, scores non-increasing, no deleted doc."""
    errs = []
    k_of = {q["query_id"]: int(q["k"]) for q in queries}
    unknown = set(res["query_id"]) - set(k_of)
    if unknown:
        errs.append(f"rows for unknown queries {sorted(unknown)[:3]}")
    for qid, g in res.groupby("query_id", sort=False):
        g = g.sort_values("rank", kind="mergesort")
        ranks = g["rank"].astype("int64").tolist()
        scores = g["score"].tolist()
        if len(g) > k_of.get(qid, 0):
            errs.append(f"{qid}: {len(g)} rows > k")
        if ranks != list(range(1, len(g) + 1)):
            errs.append(f"{qid}: ranks not dense {ranks[:5]}")
        if any(b > a for a, b in zip(scores, scores[1:])):
            errs.append(f"{qid}: scores increase")
        hit = deleted & set(g["doc_id"].astype("int64"))
        if hit:
            errs.append(f"{qid}: deleted docs returned {sorted(hit)[:3]}")
    return errs


def _matches(oracle: Bm25Oracle, q: dict, mode: str) -> set[int] | None:
    """docs the query may return; None = every scored doc (mode ``or``)."""
    if mode == "or":
        return None

    def post(term: str) -> set[int]:
        return set(oracle.tf.get(term, {}))

    if mode == "and":
        terms = sorted(set(q["text"].split()))
        out = post(terms[0])
        for t in terms[1:]:
            out &= post(t)
        return out
    out = None
    for t in q["all"]:
        out = post(t) if out is None else out & post(t)
    if q["any"]:
        anyset = set().union(*(post(t) for t in q["any"]))
        out = anyset if out is None else out & anyset
    for t in q["none"]:
        out -= post(t)
    return out


def golden(oracle: Bm25Oracle, q: dict, mode: str, deleted: set[int]) -> list[tuple]:
    """-> [(rank, doc_id, score)] the engine must return for ``q``."""
    text = " ".join(q["pos"]) if mode == "boolean" else q["text"]
    allowed = _matches(oracle, q, mode)
    k = int(q["k"])
    if allowed is None:
        ranked = oracle.score_query(text, k + len(deleted))
    else:
        ranked = [(d, s) for d, s in oracle.score_query(text, oracle.n_docs) if d in allowed]
    ranked = [(d, s) for d, s in ranked if d not in deleted][:k]
    return [(r, d, s) for r, (d, s) in enumerate(ranked, start=1)]


def oracle_errors(oracle: Bm25Oracle, res: pd.DataFrame, queries: list[dict],
                  mode: str, deleted: set[int]) -> list[str]:
    """Exact doc_id, rank and float64 score equality for each sampled query."""
    errs = []
    by_q = {qid: g.sort_values("rank", kind="mergesort") for qid, g in res.groupby("query_id")}
    for q in queries:
        g = by_q.get(q["query_id"])
        got = [] if g is None else list(
            zip(g["rank"].astype("int64"), g["doc_id"].astype("int64"), g["score"].astype("float64"))
        )
        want = golden(oracle, q, mode, deleted)
        if [(int(r), int(d), float(s)) for r, d, s in got] != want:
            errs.append(f"{q['query_id']} ({mode} {q['text']!r}): got {got[:3]} want {want[:3]}")
    return errs
