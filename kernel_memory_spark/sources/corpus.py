"""Corpus adapters: load the driver-provided testdata tables and derive the
north-rule interleaved span corpus from them deterministically.

`corpus_from_documents` turns the flat documents table (doc_id, text, ...)
into (doc_id, spans array<struct<kind,text,media_ref,offset>>) with pure
column ops: the text splits into fixed-size word windows; every 4th span is
a media span (OCR-style provenance with media_ref). Deterministic and
SQL-expressible, so entry-level smoke checks can cross-validate against
DuckDB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def corpus_from_documents(documents: DataFrame, words_per_span: int = 12) -> DataFrame:
    """documents(doc_id, text) -> CORPUS schema, deterministically."""
    # rename first so the output alias `doc_id` can't shadow the input column
    base = documents.select(
        F.format_string("doc-%09d", F.col("doc_id").cast("long")).alias("__doc"),
        F.split(F.col("text"), r"\s+").alias("__words"),
    )
    words = F.col("__words")
    n_spans = F.ceil(F.size(words) / F.lit(words_per_span)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), F.greatest(n_spans - 1, F.lit(0))),
        lambda i: F.struct(
            F.when(i % 4 == 2, F.lit("media")).otherwise(F.lit("text")).alias("kind"),
            F.array_join(
                F.slice(words, i * words_per_span + 1, words_per_span), " "
            ).alias("text"),
            F.when(
                i % 4 == 2,
                F.format_string("img://%s/%d", F.col("__doc"), i),
            ).otherwise(F.lit("")).alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return base.select(F.col("__doc").alias("doc_id"), spans.alias("spans"))


def corpus_from_files(files: DataFrame, registry=None,
                      words_per_span: int = 12) -> DataFrame:
    """Uploaded-file rows (doc_id, name, mime_type, content binary) ->
    CORPUS spans, via the content-decoder registry (the
    TextExtractionHandler ingest front door: decode by mime, then span the
    decoded text; rows whose decode fails or whose mime is unsupported are
    dropped here — route them to quarantine upstream if needed)."""
    from kernel_memory_spark.operators.decoders import DecoderRegistry

    reg = registry or DecoderRegistry()
    decoded = reg.decode_df(files).filter(F.col("text").isNotNull())
    docs = decoded.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return corpus_from_documents(docs, words_per_span)
