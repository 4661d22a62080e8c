"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow: no Spark, no package code. The
same seed gives byte-identical inputs, and generation always runs before
set-up starts, so it is never counted in ``setup_s`` or a timed region.

The tables mimic the schemas and value distributions of the package's
test fixtures (``documents``, ``embeddings``, ``events``): bag-of-words
texts over a 30-word vocabulary, 64-dim unit embeddings with ten labels,
and a 30-day event log with ``props = {"k": item}``.
"""

from __future__ import annotations

import datetime
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
DIM = 64
EPOCH = datetime.datetime(2024, 1, 1)


@dataclass(frozen=True)
class Size:
    """Input sizes of one benchmark size preset."""

    docs: int  # distinct documents in the pipeline input
    redeliver: float  # share of extra exact re-deliveries under new ids
    embeddings: int
    events: int
    users: int
    stream_batches: int  # micro-batches available to the timed region
    stream_batch_docs: int
    serve_scale: float  # share of SERVE_ROUND run after each pipeline repetition


SIZES = {
    "default": Size(1000, 0.10, 500, 5000, 60, 6, 60, 1.0),
    "tiny": Size(120, 0.10, 100, 600, 12, 2, 16, 0.3),
}


def _texts(rng: np.random.Generator, n: int, lo: int = 10, hi: int = 100) -> list[str]:
    """n distinct bag-of-words texts with lo..hi tokens."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(lo, hi + 1))
        t = " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k))
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


def _unit(v: np.ndarray) -> np.ndarray:
    return (v / np.linalg.norm(v, axis=-1, keepdims=True)).astype(np.float32)


def _write(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def documents_table(doc_ids: list[int], texts: list[str], rng: np.random.Generator) -> pa.Table:
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_pipeline_inputs(seed: int, size: Size, sf_dir: str) -> dict:
    """The three tables ``run_pipeline`` reads, written as
    ``<sf_dir>/<name>.parquet``. Returns the facts the output check needs:
    the ids that must survive exact dedup and the row counts."""
    rng = np.random.default_rng([seed, 1])
    base = _texts(rng, size.docs)
    n_re = int(round(size.redeliver * size.docs))
    re_src = rng.choice(size.docs, n_re, replace=False)
    texts = base + [base[i] for i in re_src]
    ids = list(range(len(texts)))  # re-deliveries get new, higher ids
    order = rng.permutation(len(texts))
    _write(
        f"{sf_dir}/documents.parquet",
        documents_table([ids[i] for i in order], [texts[i] for i in order], rng),
    )
    emb = _unit(rng.standard_normal((size.embeddings, DIM)))
    _write(
        f"{sf_dir}/embeddings.parquet",
        pa.table(
            {
                "vec_id": pa.array(np.arange(size.embeddings), pa.int64()),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, size.embeddings), pa.int32()),
            }
        ),
    )
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, size.events))
    _write(
        f"{sf_dir}/events.parquet",
        pa.table(
            {
                "event_id": pa.array(np.arange(size.events), pa.int64()),
                "ts": pa.array(
                    [EPOCH + datetime.timedelta(microseconds=int(t)) for t in ts],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, size.users, size.events), pa.int64()),
                "event_type": pa.array(
                    [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), size.events)]
                ),
                "value": pa.array(np.round(rng.exponential(50.0, size.events), 2)),
                "props": pa.array(
                    [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size.events)]
                ),
            }
        ),
    )
    return {
        "kept_ids": list(range(size.docs)),
        "n_docs_in": len(texts),
        "n_redelivered": n_re,
    }


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _near_dup(rng: np.random.Generator, text: str) -> str:
    """Edit one token so that the word-3-shingle Jaccard stays >= 0.8."""
    toks = text.split()
    for _ in range(100):
        i = int(rng.integers(0, len(toks)))
        new = toks.copy()
        new[i] = VOCAB[(VOCAB.index(toks[i]) + 1 + int(rng.integers(0, len(VOCAB) - 1))) % len(VOCAB)]
        a, b = _shingles(text), _shingles(" ".join(new))
        if len(a & b) >= 0.8 * len(a | b):
            return " ".join(new)
    raise ValueError("no near-duplicate edit keeps Jaccard >= 0.8")


@dataclass
class StreamBatch:
    doc_ids: list[int]
    texts: list[str]
    embeddings: np.ndarray  # (n, DIM) float32, row-aligned with doc_ids
    fresh: list[int]  # ids that must survive ingest
    redelivered: list[int]  # ids that must be dropped
    near_dup: list[int]


def stream_batches(
    seed: int,
    n_batches: int,
    batch_docs: int,
    redeliver: float = 0.2,
    near_dup: float = 0.1,
    new_story: float = 0.2,
) -> list[StreamBatch]:
    """Micro-batches for ``ingest_stream``. Batch 0 is all fresh; later
    batches mix fresh documents, exact re-deliveries of earlier fresh
    documents (new ids) and one-token near-duplicates of them. Each
    document's embedding sits near a story centre (cosine ~0.95): a new
    centre with probability ``new_story``, else an existing one."""
    rng = np.random.default_rng([seed, 2])
    next_id = 0
    pool: list[str] = []  # fresh texts delivered so far
    centres: list[np.ndarray] = []
    seen: set[str] = set()
    out: list[StreamBatch] = []
    for b in range(n_batches):
        n_re = 0 if b == 0 else int(round(redeliver * batch_docs))
        n_nd = 0 if b == 0 else int(round(near_dup * batch_docs))
        n_fresh = batch_docs - n_re - n_nd
        fresh_texts = [t for t in _texts(rng, n_fresh * 2, 40, 100) if t not in seen][:n_fresh]
        re_texts = [pool[i] for i in rng.choice(len(pool), n_re, replace=False)] if n_re else []
        nd_texts = [_near_dup(rng, pool[i]) for i in rng.choice(len(pool), n_nd, replace=False)] if n_nd else []
        kinds = ["fresh"] * n_fresh + ["re"] * n_re + ["nd"] * n_nd
        texts = fresh_texts + re_texts + nd_texts
        order = rng.permutation(len(texts))
        ids, txt, vecs = [], [], []
        groups: dict[str, list[int]] = {"fresh": [], "re": [], "nd": []}
        for j in order:
            did = next_id
            next_id += 1
            ids.append(did)
            txt.append(texts[j])
            groups[kinds[j]].append(did)
            if not centres or rng.random() < new_story:
                centres.append(_unit(rng.standard_normal(DIM)))
                c = centres[-1]
            else:
                c = centres[int(rng.integers(0, len(centres)))]
            vecs.append(_unit(c + 0.04 * rng.standard_normal(DIM)))
        pool.extend(fresh_texts)
        seen.update(fresh_texts)
        out.append(
            StreamBatch(ids, txt, np.stack(vecs), groups["fresh"], groups["re"], groups["nd"])
        )
    return out


# One serve round after each pipeline repetition: a fixed op multiset
# (18 reads, 2 writes = 10% writes) in a seeded order.
SERVE_ROUND = {
    "get_recommendations": 7,
    "get_recommendations_fallback": 2,
    "latest_stories": 3,
    "get_story": 2,
    "latest_bias_reports": 2,
    "drift_score": 2,
    "track_events": 1,
    "upsert_recommendations": 1,
}


def serve_round(seed: int, rep: int, n_users: int, scale: float = 1.0) -> list[tuple[str, int]]:
    """Seeded closed-loop op sequence for one serve round: (op, arg).
    The round opens with ``track_events``; the rest is shuffled.
    ``arg`` is a Zipf(1.2) rank for known-user reads (resolved against the
    sorted users of the gold table), else a uniform pick. ``scale``
    shrinks the round for the tiny preset (every op kept at least once)."""
    rng = np.random.default_rng([seed, 3, rep])
    names = [n for n, c in SERVE_ROUND.items() for _ in range(max(1, round(c * scale)))]
    # drift_score reads the tracked events log, so a round opens with a write
    names.remove("track_events")
    names = ["track_events"] + [names[i] for i in rng.permutation(len(names))]
    out = []
    for name in names:
        if name == "get_recommendations":
            arg = int((rng.zipf(1.2) - 1) % max(n_users, 1))
        else:
            arg = int(rng.integers(0, 1 << 30))
        out.append((name, arg))
    return out


def event_batch(seed: int, offset: int, n: int, n_users: int) -> list[dict]:
    """A ``track_events`` payload: n events dated after the event log."""
    rng = np.random.default_rng([seed, 4, offset])
    return [
        {
            "event_id": 10_000_000 + offset * 1000 + i,
            "ts": EPOCH + datetime.timedelta(days=30, seconds=int(rng.integers(0, 86_400))),
            "user_id": int(rng.integers(0, n_users)),
            "event_type": EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))],
            "value": float(np.round(rng.exponential(50.0), 2)),
            "props": json.dumps({"k": int(rng.integers(0, 100))}),
        }
        for i in range(n)
    ]
