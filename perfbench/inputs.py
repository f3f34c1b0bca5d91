"""Seeded benchmark inputs: base corpus, micro-batches and question list.

Everything here is a pure function of the seed. Documents come from
``synth.gen_doc`` (the per-document generator behind ``synth.synth_full``),
so the Python-side copy used by the correctness checks and the parquet files
the pipeline reads are the same documents.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field
from typing import Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

from kernel_memory_spark import synth

BASE_DOCS = 200
BATCH_DOCS = 40
# about 10% of every micro-batch re-delivers documents already ingested
REDELIVERED_PER_BATCH = 4
MAX_BATCHES = 8
QUESTION_POOL = 32
QUESTIONS = 64

CORPUS_ARROW = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))),
    ("tags", pa.map_(pa.string(), pa.list_(pa.string()))),
])


@dataclass
class Question:
    text: str          # "<subject alias> <predicate> <object alias>"
    fts_query: str     # boolean query for search_service.search
    subj: str
    pred: str
    obj: str


@dataclass
class Inputs:
    seed: int
    base_path: str
    base_docs: List[dict]
    batch_paths: List[str]
    batches: List[List[dict]]          # documents of each micro-batch
    questions: List[Question]
    input_bytes: Dict[str, int] = field(default_factory=dict)
    fingerprint: str = ""


def _write_docs(docs: List[dict], path: str) -> int:
    rows = [
        {"doc_id": d["doc_id"], "spans": d["spans"],
         "tags": list(d["tags"].items())}
        for d in docs
    ]
    pq.write_table(pa.Table.from_pylist(rows, schema=CORPUS_ARROW), path)
    return os.path.getsize(path)


def _zipf_pick(rng: random.Random, items: list) -> object:
    return rng.choices(items, weights=[1.0 / (i + 1) for i in range(len(items))])[0]


def _question_pool(rng: random.Random) -> List[Question]:
    """Questions from the synth grammar: entity aliases x predicates, with
    Zipf entity popularity inside each class (as the corpus has)."""
    by_class: Dict[str, list] = {}
    for canonical, aliases, cls in synth.ENTITIES:
        by_class.setdefault(cls, []).append((canonical, aliases))
    pool = []
    while len(pool) < QUESTION_POOL:
        pred, s_cls, o_cls = rng.choice(synth.PREDICATES)
        _, s_aliases = _zipf_pick(rng, by_class[s_cls])
        _, o_aliases = _zipf_pick(rng, by_class[o_cls])
        subj, obj = rng.choice(s_aliases), rng.choice(o_aliases)
        fts = f'"{subj}" AND ({pred.split()[0]} OR "{obj}")'
        pool.append(Question(f"{subj} {pred} {obj}", fts, subj, pred, obj))
    return pool


def generate(seed: int, out_dir: str) -> Inputs:
    """Generate the corpus, the micro-batches and the question sequence for
    `seed`, writing the parquet inputs under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    base = [synth.gen_doc(i, seed) for i in range(BASE_DOCS)]
    base_path = os.path.join(out_dir, "base.parquet")
    sizes = {"base": _write_docs(base, base_path)}

    batches, batch_paths, delivered = [], [], list(range(BASE_DOCS))
    next_idx = BASE_DOCS
    fresh = BATCH_DOCS - REDELIVERED_PER_BATCH
    for b in range(MAX_BATCHES):
        idx = list(range(next_idx, next_idx + fresh))
        idx += rng.sample(delivered, REDELIVERED_PER_BATCH)
        next_idx += fresh
        delivered += idx[:fresh]
        docs = [synth.gen_doc(i, seed) for i in idx]
        path = os.path.join(out_dir, f"batch-{b:02d}.parquet")
        sizes[f"batch-{b:02d}"] = _write_docs(docs, path)
        batches.append(docs)
        batch_paths.append(path)

    pool = _question_pool(rng)
    questions = [_zipf_pick(rng, pool) for _ in range(QUESTIONS)]

    digest = hashlib.sha256()
    for d in base + [d for batch in batches for d in batch]:
        digest.update(json.dumps(
            [d["doc_id"], d["spans"], d["tags"]], sort_keys=True
        ).encode())
    for q in questions:
        digest.update(json.dumps([q.text, q.fts_query]).encode())
    return Inputs(seed, base_path, base, batch_paths, batches, questions,
                  sizes, digest.hexdigest())
