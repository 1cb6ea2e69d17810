"""Workload inputs, generated from the seed and owned by the benchmark.

The corpus comes from ``angle_spark.synth.synth_conversations``; everything
else (append stream, probes, tombstones, query sets) is derived here so the
program under test only ever receives generated inputs. A pinned digest of
a fixed reference materialisation guards the generator: if ``synth.py``
changes what it emits, the benchmark stops instead of silently measuring a
different workload.

Inputs are cached under the work directory, keyed by seed, sizes and the
pinned digest. Indexes are never cached.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections import Counter
from itertools import chain

import numpy as np
import pandas as pd

from angle_spark.synth import VOCAB_SIZE, synth_conversations

# sha256 over "conv_id\tturn_idx\ttext\n" of synth_conversations(range(8), 2024)
SYNTH_DIGEST = "702093b50b716821a59d8c97ebb393c95a500d029c581b967c1629e2f93fa956"

BASE_CONVS = 400  # ~7.9k turns: the bulk-built index
TAIL_CONVS = 50  # ~1k turns per streamed micro-batch
MAX_BATCHES = 4  # micro-batches prepared; a run uses what its loop reaches
BASE_FILES = 4  # the bulk corpus is read as several splits, like a real table

K = 10
BATCH_QUERIES = 200  # query workload batch size (MaxScore applies only <= 4)
N_BATCHES = 16
BATCH_MODES = ("or", "or", "and", "or", "boolean")
SMALL_QUERIES = 4  # ingest's regular searches: one small batch per cycle
DELETES_PER_CYCLE = 2  # earlier base turns tombstoned per cycle (+ last probe target)
LAYOUT = 2  # bump when the manifest's shape changes: old cached inputs are not reused

COLUMNS = ["conv_id", "turn_idx", "text"]


def _digest(pdf: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for c, t, x in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
        h.update(f"{c}\t{t}\t{x}\n".encode())
    return h.hexdigest()


def check_generator() -> None:
    got = _digest(synth_conversations(np.arange(8, dtype=np.int64), 2024))
    if got != SYNTH_DIGEST:
        raise SystemExit(
            f"synth_conversations output changed (digest {got}); the workload "
            "is pinned to the old generator — update SYNTH_DIGEST deliberately"
        )


def _turns(lo: int, hi: int, seed: int) -> pd.DataFrame:
    pdf = synth_conversations(np.arange(lo, hi, dtype=np.int64), seed)[COLUMNS]
    return pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)


def _term(rank: int) -> str:
    return f"w{rank:04d}"


def _head_ranks(rng: np.random.Generator, n: int) -> np.ndarray:
    """Zipf-like draw (p ~ 1/rank) over the vocabulary: mostly head terms,
    so queries in one batch share posting lists."""
    u = rng.random(n)
    return np.minimum((np.exp(u * np.log(VOCAB_SIZE)) - 1).astype(np.int64), VOCAB_SIZE - 1)


def _tail_ranks(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.integers(200, VOCAB_SIZE, size=n)


def _boolean_query(rng: np.random.Generator) -> dict:
    a, b, c = (_term(r) for r in _head_ranks(rng, 3))
    shape = int(rng.integers(0, 4))
    if shape == 0:
        return {"text": f"{a} AND {b}", "all": [a, b], "any": [], "none": [], "pos": [a, b]}
    if shape == 1:
        return {"text": f"{a} OR {b}", "all": [], "any": [a, b], "none": [], "pos": [a, b]}
    if shape == 2:
        return {"text": f"({a} OR {b}) AND {c}", "all": [c], "any": [a, b], "none": [], "pos": [a, b, c]}
    return {"text": f"{a} AND NOT {b}", "all": [a], "any": [], "none": [b], "pos": [a]}


def _batch(rng: np.random.Generator, b: int, mode: str) -> list[dict]:
    out = []
    for i in range(BATCH_QUERIES):
        qid = f"b{b:02d}_{i:03d}"
        if mode == "boolean":
            q = _boolean_query(rng)
        else:
            n_terms = int(rng.integers(2, 4)) if mode == "and" else int(rng.integers(1, 5))
            terms = [_term(r) for r in _head_ranks(rng, n_terms)]
            q = {"text": " ".join(terms)}
        out.append({"query_id": qid, "k": K, **q})
    return out


def _small(rng: np.random.Generator, c: int, reprobe: dict | None) -> list[dict]:
    """One interactive small batch (<= MAXSCORE_MAX_BATCH queries, so the
    pruning paths run): tail-term queries and one head single-term query.
    From the second cycle on, the last query re-asks the previous probe
    as an ``or`` query: its target has just been deleted, and an unmasked
    tombstone would rank it first."""
    out = []
    for i in range(SMALL_QUERIES):
        qid = f"s{c:02d}_{i}"
        if i == SMALL_QUERIES - 1 and reprobe is not None:
            out.append({"query_id": qid, "text": reprobe["text"], "k": K})
        elif i == 0:
            out.append({"query_id": qid, "text": _term(int(rng.integers(0, 50))), "k": K})
        else:
            terms = (_term(r) for r in _tail_ranks(rng, int(rng.integers(2, 4))))
            out.append({"query_id": qid, "text": " ".join(terms), "k": K})
    return out


def _probe(batch: pd.DataFrame, first_doc: int, df: Counter, seen: list[set],
           rng: np.random.Generator, c: int) -> dict:
    """A conjunctive query whose top-k must contain one chosen turn of the
    batch: that turn's rarest terms, re-checked against every turn indexed
    by the time the probe runs (at most K matches)."""
    for _ in range(100):
        row = int(rng.integers(0, len(batch)))
        terms = sorted(set(batch["text"].iat[row].split()), key=lambda t: (df[t], t))
        if len(terms) < 4:
            continue
        for n in (3, 4):
            pick = terms[:n]
            hits = sum(all(t in s for t in pick) for s in seen)
            if hits <= K:
                return {"query_id": f"p{c:02d}", "text": " ".join(pick), "k": K,
                        "doc_id": first_doc + row}
    raise RuntimeError("no selective probe found")


def input_dir(work: str, seed: int) -> str:
    key = f"v{LAYOUT}_s{seed}_b{BASE_CONVS}_t{TAIL_CONVS}x{MAX_BATCHES}_{SYNTH_DIGEST[:12]}"
    return os.path.join(work, "inputs", key)


def materialise(work: str, seed: int) -> dict:
    """Write the run's inputs under ``work`` (cached) and return the manifest."""
    check_generator()
    root = input_dir(work, seed)
    manifest_path = os.path.join(root, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)

    tmp = root + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    rng = np.random.default_rng(seed)
    base = _turns(0, BASE_CONVS, seed)
    tails = [
        _turns(BASE_CONVS + c * TAIL_CONVS, BASE_CONVS + (c + 1) * TAIL_CONVS, seed)
        for c in range(MAX_BATCHES)
    ]

    os.makedirs(os.path.join(tmp, "base"))
    for i, part in enumerate(np.array_split(np.arange(len(base)), BASE_FILES)):
        base.iloc[part].to_parquet(os.path.join(tmp, "base", f"part-{i:02d}.parquet"), index=False)
    for c, t in enumerate(tails):
        t.to_parquet(os.path.join(tmp, f"tail_{c:02d}.parquet"), index=False)

    term_sets = [[set(x.split()) for x in part["text"]] for part in (base, *tails)]
    df = Counter(chain.from_iterable(chain.from_iterable(term_sets)))
    seen = list(term_sets[0])
    probes, deletes = [], []
    first_doc = len(base)
    deleted: set[int] = set()
    for c, t in enumerate(tails):
        seen.extend(term_sets[c + 1])
        probes.append(_probe(t, first_doc, df, seen, rng, c))
        first_doc += len(t)
        ids = [probes[c - 1]["doc_id"]] if c else []
        while len(ids) < DELETES_PER_CYCLE + (1 if c else 0):
            d = int(rng.integers(0, len(base)))
            if d not in deleted and d not in ids:
                ids.append(d)
        deleted.update(ids)
        deletes.append(ids)

    manifest = {
        "seed": seed,
        "digest": _digest(pd.concat([base, *tails])),
        "base_turns": len(base),
        "base_text_bytes": sum(len(t.encode()) for t in base["text"]),
        "tail_turns": [len(t) for t in tails],
        "probes": probes,
        "deletes": deletes,
        "batches": [
            {"mode": BATCH_MODES[b % len(BATCH_MODES)],
             "queries": _batch(rng, b, BATCH_MODES[b % len(BATCH_MODES)])}
            for b in range(N_BATCHES)
        ],
        # one per ingest cycle, then one for the warm-up
        "smalls": [_small(rng, c, probes[c - 1] if 0 < c < MAX_BATCHES else None)
                   for c in range(MAX_BATCHES + 1)],
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    try:
        os.rename(tmp, root)
    except OSError:  # another run cached the same key first
        shutil.rmtree(tmp, ignore_errors=True)
    with open(manifest_path) as f:
        return json.load(f)

