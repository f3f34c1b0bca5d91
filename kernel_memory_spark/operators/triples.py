"""Stage `triples`: records/partitions -> (subj, pred, obj) rows.

Two deterministic sources (SURVEY.md §2.11):

1. Tag/lineage triples — exact flattening of the record structure built by
   SaveRecordsHandler.PrepareRecord (SaveRecordsHandler.cs:375-441):
   (doc, has_file, file), (file, has_part, part), (part, part_n, n),
   (part, sect_n, n), (file, file_type, mime), (doc, tag:K, V) per user tag.
   Pure column ops — unions of projections, no Python.

2. Mention/pattern triples — the fixed extraction rules of
   functions/extraction.py run as one Arrow-batched pandas UDF over
   partition text: (part, mentions, entity_norm) and
   (subj_norm, pred, obj_norm). Entity endpoints are normalized surface
   forms here; the linking + canonicalization stages rewrite them to
   canonical entity ids.

Skew note: hot entities (Zipfian) concentrate on few `obj` values. That is
harmless here (no aggregation), and downstream consumers that group by
entity use salted aggregation (operators/linking.py).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kernel_memory_spark.functions.extraction import extract_mentions


def lineage_triples(
    partitions: DataFrame,
    extracted: DataFrame,
    doc_tags: DataFrame | None,
    execution_id: str,
) -> DataFrame:
    """Exact tag/lineage triple set from the record structure.

    One scan per source frame: the two extracted-derived kinds and the three
    partition-derived kinds are emitted via explode-of-struct-array instead
    of a five-branch union. Spark re-executes a subtree once per union
    branch, so the old shape ran the partitions lineage (which may contain
    the chunker pandas UDF when `partitions` is unmaterialized, as in the
    kg_triples_sf entry) three times; this shape runs it once. Output rows
    are identical."""
    def _t(subj, pred, obj):
        return F.struct(
            subj.alias("subj"), F.lit(pred).alias("pred"), obj.alias("obj")
        )

    ex_triples = extracted.select(
        F.explode(F.array(
            _t(F.col("doc_id"), "has_file", F.col("file_id")),
            _t(F.col("file_id"), "file_type", F.col("mime_type")),
        )).alias("t"),
        F.col("doc_id"),
    ).select("t.subj", "t.pred", "t.obj", "doc_id")
    p_triples = partitions.select(
        F.explode(F.array(
            _t(F.col("file_id"), "has_part", F.col("partition_id")),
            _t(F.col("partition_id"), "part_n",
               F.col("partition_number").cast("string")),
            _t(F.col("partition_id"), "sect_n",
               F.col("section_number").cast("string")),
        )).alias("t"),
        F.col("doc_id"),
    ).select("t.subj", "t.pred", "t.obj", "doc_id")
    out = ex_triples.unionByName(p_triples)

    if doc_tags is not None:
        tag_triples = (
            doc_tags.select(
                "doc_id", F.explode("tags").alias("k", "vs")
            )
            .select("doc_id", "k", F.explode("vs").alias("v"))
            .select(
                F.col("doc_id").alias("subj"),
                F.concat(F.lit("tag:"), F.col("k")).alias("pred"),
                F.col("v").alias("obj"),
                F.col("doc_id"),
            )
        )
        out = out.unionByName(tag_triples)

    return out.withColumn("execution_id", F.lit(execution_id))


_MENTION_SCHEMA = "doc_id string, partition_id string, mention string, norm string"
# combined single-pass schema: kind='m' rows carry (mention, norm) in
# (subj, obj); kind='t' rows carry (subj_norm, pred, obj_norm)
_EXTRACT_SCHEMA = (
    "doc_id string, partition_id string, kind string,"
    " subj string, pred string, obj string"
)


def extract_all_df(partitions: DataFrame) -> DataFrame:
    """Single Arrow-batched pass over partition text producing BOTH mention
    rows (kind='m': subj=mention surface, obj=norm) and pattern-triple rows
    (kind='t': normalized endpoints). One scan instead of two — the regex
    sentence split is the expensive part and is shared.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from kernel_memory_spark.functions.extraction import (
            _norm_cached as norm,
            extract_all,
        )

        # surface vocabulary is tiny relative to mention volume: memoized
        # normalization (module-level, so a reused Python worker keeps it
        # across tasks) + columnar buffers (dict-of-lists is an order of
        # magnitude cheaper than 10^7 row tuples)
        for pdf in batches:
            c_doc, c_pid, c_kind, c_s, c_p, c_o = [], [], [], [], [], []
            for doc_id, pid, text in zip(
                pdf["doc_id"], pdf["partition_id"], pdf["text"]
            ):
                ments, trips = extract_all(text or "")
                for m in ments:
                    c_doc.append(doc_id); c_pid.append(pid)
                    c_kind.append("m"); c_s.append(m)
                    c_p.append(""); c_o.append(norm(m))
                for s, p, o in trips:
                    c_doc.append(doc_id); c_pid.append(pid)
                    c_kind.append("t"); c_s.append(norm(s))
                    c_p.append(p); c_o.append(norm(o))
            yield pd.DataFrame(
                {
                    "doc_id": c_doc, "partition_id": c_pid, "kind": c_kind,
                    "subj": c_s, "pred": c_p, "obj": c_o,
                }
            )

    return partitions.select("doc_id", "partition_id", "text").mapInPandas(
        run, schema=_EXTRACT_SCHEMA
    )


def mentions_from_extractions(extractions: DataFrame) -> DataFrame:
    return extractions.filter(F.col("kind") == "m").select(
        "doc_id", "partition_id",
        F.col("subj").alias("mention"), F.col("obj").alias("norm"),
    )


def patterns_from_extractions(extractions: DataFrame) -> DataFrame:
    return extractions.filter(F.col("kind") == "t").select(
        "doc_id", "partition_id", "subj", "pred", "obj"
    )


def extract_mentions_df(partitions: DataFrame) -> DataFrame:
    """-> MENTIONS (schema.MENTIONS), one row per detected mention."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from kernel_memory_spark.functions.extraction import _norm_cached

        # columnar buffers + memoized normalization, same shape as
        # extract_all_df (row tuples cost ~an order of magnitude more to
        # assemble at 10^7 mentions, and the surface vocabulary is tiny
        # relative to mention volume)
        for pdf in batches:
            c_doc, c_pid, c_m, c_n = [], [], [], []
            for doc_id, pid, text in zip(
                pdf["doc_id"], pdf["partition_id"], pdf["text"]
            ):
                for m in extract_mentions(text or ""):
                    c_doc.append(doc_id)
                    c_pid.append(pid)
                    c_m.append(m)
                    c_n.append(_norm_cached(m))
            yield pd.DataFrame(
                {
                    "doc_id": c_doc, "partition_id": c_pid,
                    "mention": c_m, "norm": c_n,
                }
            )

    return partitions.select("doc_id", "partition_id", "text").mapInPandas(
        run, schema=_MENTION_SCHEMA
    )


def mention_triples(mentions: DataFrame, execution_id: str) -> DataFrame:
    """(part, mentions, entity_norm) triples."""
    return mentions.select(
        F.col("partition_id").alias("subj"),
        F.lit("mentions").alias("pred"),
        F.col("norm").alias("obj"),
        F.col("doc_id"),
        F.lit(execution_id).alias("execution_id"),
    )


def entity_triples(
    pattern_triples: DataFrame,
    entity_map: DataFrame,
    execution_id: str,
) -> DataFrame:
    """Rewrite pattern-triple endpoints to canonical entity ids and dedupe
    per document. entity_map: (norm, canonical_id) from canonicalization.

    The two joins are equi-joins against the entity map. No broadcast hint:
    the map is O(|distinct surfaces|) and grows with the corpus, so a forced
    broadcast would bypass Spark's size threshold and OOM at scale — AQE
    picks broadcast when the map actually fits
    (spark.sql.autoBroadcastJoinThreshold) and a shuffled hash join when it
    doesn't. The final distinct() is the only guaranteed shuffle.
    """
    subj_map = entity_map.select(
        F.col("norm").alias("subj"), F.col("canonical_id").alias("subj_c")
    )
    obj_map = entity_map.select(
        F.col("norm").alias("obj"), F.col("canonical_id").alias("obj_c")
    )
    return (
        pattern_triples.join(subj_map, "subj", "left")
        .join(obj_map, "obj", "left")
        .select(
            F.coalesce("subj_c", "subj").alias("subj"),
            F.col("pred"),
            F.coalesce("obj_c", "obj").alias("obj"),
            F.col("doc_id"),
            F.lit(execution_id).alias("execution_id"),
        )
        .distinct()
    )
