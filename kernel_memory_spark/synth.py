"""Deterministic synthetic interleaved text+media corpus (FIXTURES.md §1).

Generates the north-rule input shape
``(doc_id string, spans array<struct<kind,text,media_ref,offset:int>>)``
plus ground-truth side tables (mentions, triples, entity groups, doc tags)
used by the P/R harness. Everything is a pure function of (seed, doc index),
so generation is distributed via ``mapInPandas`` over ``spark.range`` and
produces identical content at any partitioning/parallelism — a requirement
for the two-cluster-size scaling protocol.

Grammar rules (the KG-construction payload; these are OUR fixed rules, the
reference fixes only the tag/lineage semantics — SURVEY.md §2.11):
- entity aliases are capitalized phrases; all other words lowercase;
- one (subj, pred, obj) fact per fact-sentence: "<Alias> <pred> <Alias>.";
- media spans carry the same grammar (OCR output text) with
  media_ref = "img://{doc_id}/{offset}";
- a span is "sentences-complete" iff kind='media' or offset % 3 == 0
  (mirrors Chunk.Meta(sentencesAreComplete), PdfDecoder.cs:63 false vs
  ImageDecoder.cs:44 true).

Entity popularity is Zipfian so hot entities create genuine aggregation/join
skew at scale (exercised by salting + AQE skew-join in linking).
"""

from __future__ import annotations

import random
from typing import Iterator, List

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

SEED = 42

# ---------------------------------------------------------------------------
# Fixed entity vocabulary: (canonical_name, [aliases...]). Aliases are chosen
# to be character-shingle-similar (so MinHash-LSH blocking finds them) while
# distinct entities stay dissimilar.
# ---------------------------------------------------------------------------
_PEOPLE = [
    ("Alice Johnson", ["Alice Johnson", "Alice M. Johnson", "Alice Johnson PhD"]),
    ("Robert Chen", ["Robert Chen", "Robert T. Chen", "Robert Chen Jr"]),
    ("Maria Garcia", ["Maria Garcia", "Maria L. Garcia", "Maria Garcia Lopez"]),
    ("David Okafor", ["David Okafor", "David N. Okafor"]),
    ("Yuki Tanaka", ["Yuki Tanaka", "Yuki R. Tanaka"]),
    ("Emma Nilsson", ["Emma Nilsson", "Emma K. Nilsson"]),
    ("Omar Haddad", ["Omar Haddad", "Omar B. Haddad"]),
    ("Priya Sharma", ["Priya Sharma", "Priya V. Sharma"]),
    ("Lucas Moreau", ["Lucas Moreau", "Lucas P. Moreau"]),
    ("Nina Petrova", ["Nina Petrova", "Nina S. Petrova"]),
]

_ORGS = [
    ("Helios Dynamics", ["Helios Dynamics", "Helios Dynamics Inc", "Helios Dynamics Corp"]),
    ("Quantafold Labs", ["Quantafold Labs", "Quantafold Labs LLC"]),
    ("Bluewater Analytics", ["Bluewater Analytics", "Bluewater Analytics Group"]),
    ("Northgate Systems", ["Northgate Systems", "Northgate Systems Ltd"]),
    ("Veridian Biotech", ["Veridian Biotech", "Veridian Biotech Inc"]),
    ("Starling Aerospace", ["Starling Aerospace", "Starling Aerospace Co"]),
    ("Cobalt Works", ["Cobalt Works", "Cobalt Works International"]),
    ("Marble Arch Capital", ["Marble Arch Capital", "Marble Arch Capital Partners"]),
]

_PLACES = [
    ("New Avalon", ["New Avalon", "New Avalon City"]),
    ("Port Meridian", ["Port Meridian", "Port Meridian Bay"]),
    ("Lake Verona", ["Lake Verona", "Lake Verona District"]),
    ("Mount Kessler", ["Mount Kessler", "Mount Kessler Ridge"]),
    ("Easthaven", ["Easthaven", "Easthaven Township"]),
    ("Grand Citadel", ["Grand Citadel", "Grand Citadel Plaza"]),
]

ENTITIES = (
    [(n, a, "person") for n, a in _PEOPLE]
    + [(n, a, "org") for n, a in _ORGS]
    + [(n, a, "place") for n, a in _PLACES]
)

# predicate -> (subject class, object class)
PREDICATES = [
    ("works at", "person", "org"),
    ("leads", "person", "org"),
    ("founded", "person", "org"),
    ("studied at", "person", "org"),
    ("visited", "person", "place"),
    ("lives in", "person", "place"),
    ("acquired", "org", "org"),
    ("partnered with", "org", "org"),
    ("located in", "org", "place"),
]

_FILLERS = [
    "the quarterly report was published without further comment.",
    "several updates were applied to the archive during the night.",
    "no additional details were released at the time of writing.",
    "the committee will reconvene after the seasonal recess.",
    "early results suggest a modest improvement over the prior run.",
]

_TAG_TYPES = ["news", "blog", "report", "memo"]
_TAG_EXTS = ["pdf", "html", "txt"]


def _zipf_weights(n: int) -> List[float]:
    return [1.0 / (i + 1) for i in range(n)]


_BY_CLASS = {
    "person": [e for e in ENTITIES if e[2] == "person"],
    "org": [e for e in ENTITIES if e[2] == "org"],
    "place": [e for e in ENTITIES if e[2] == "place"],
}
_W_BY_CLASS = {k: _zipf_weights(len(v)) for k, v in _BY_CLASS.items()}


def gen_doc(doc_idx: int, seed: int = SEED, scale: int = 1) -> dict:
    """Generate one document + its ground truth. Pure function of inputs.
    `scale` multiplies sentences per span (heavier docs for benchmarks)."""
    rng = random.Random((seed << 32) ^ doc_idx)
    doc_id = f"doc-{doc_idx:09d}"

    n_spans = rng.randint(1, 8)
    spans = []
    truth_mentions: List[str] = []
    truth_triples: List[tuple] = []

    for offset in range(n_spans):
        is_media = rng.random() < 0.25
        sentences = []
        for _ in range(rng.randint(1, 4) * scale):
            if rng.random() < 0.7:
                pred, s_cls, o_cls = rng.choice(PREDICATES)
                subj_c, subj_aliases, _ = rng.choices(
                    _BY_CLASS[s_cls], weights=_W_BY_CLASS[s_cls]
                )[0]
                obj_c, obj_aliases, _ = rng.choices(
                    _BY_CLASS[o_cls], weights=_W_BY_CLASS[o_cls]
                )[0]
                subj_a = rng.choice(subj_aliases)
                obj_a = rng.choice(obj_aliases)
                sentences.append(f"{subj_a} {pred} {obj_a}.")
                truth_mentions.extend([subj_a, obj_a])
                truth_triples.append((subj_c, pred, obj_c))
            else:
                sentences.append(rng.choice(_FILLERS))
        text = " ".join(sentences)
        media_ref = f"img://{doc_id}/{offset}" if is_media else ""
        spans.append(
            {
                "kind": "media" if is_media else "text",
                "text": text,
                "media_ref": media_ref,
                "offset": offset,
            }
        )

    tags = {
        "type": [rng.choice(_TAG_TYPES)],
        "ext": [rng.choice(_TAG_EXTS)],
        "user": [f"user-{rng.randint(0, 9)}"],
    }

    return {
        "doc_id": doc_id,
        "spans": spans,
        "tags": tags,
        "truth_mentions": sorted(set(truth_mentions)),
        "truth_triples": [
            {"subj": s, "pred": p, "obj": o} for s, p, o in sorted(set(truth_triples))
        ],
    }


_GEN_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "tags map<string,array<string>>, "
    "truth_mentions array<string>, "
    "truth_triples array<struct<subj:string,pred:string,obj:string>>"
)


def synth_full(spark: SparkSession, n_docs: int, seed: int = SEED,
               partitions: int | None = None, scale: int = 1) -> DataFrame:
    """Corpus + truth columns, generated distributed over spark.range."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [gen_doc(int(i), seed, scale) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)
    base = spark.range(0, n_docs, 1, partitions)
    return base.mapInPandas(gen, schema=_GEN_SCHEMA)


def synth_corpus(spark: SparkSession, n_docs: int, seed: int = SEED,
                 partitions: int | None = None) -> DataFrame:
    return synth_full(spark, n_docs, seed, partitions).select("doc_id", "spans")


def synth_doc_tags(spark: SparkSession, n_docs: int, seed: int = SEED) -> DataFrame:
    return synth_full(spark, n_docs, seed).select("doc_id", "tags")
