"""Structured-Streaming ingestion: incremental KG construction.

The batch Pipeline (streaming/pipeline.py) processes ONE corpus per
catalog — per-stage snapshots overwrite, mirroring the reference's
one-DataPipeline-per-upload shape. A continuously arriving corpus needs the
queue-driven shape instead (DistributedPipelineOrchestrator.cs: each queue
message is a document batch routed through the handler chain):

- `stream_ingest` — `readStream` over a document directory ->
  `foreachBatch`; every micro-batch runs the PER-DOCUMENT stages
  (extract -> partition -> gen_embeddings -> save_records -> doc-scoped
  triples) and MERGES each result into the shared tables bucket-scoped on
  doc_id, so a re-delivered or re-uploaded document replaces exactly its
  own rows (the streaming analog of DeletePreviousRecordsAsync,
  SaveRecordsHandler.cs:297-323). Exactly-once per input file comes from
  the file source's checkpoint tracking; a batch that crashes mid-merge
  re-runs safely because every merge is a snapshot commit (Q3).
- `refresh_graph` — the GLOBAL stages (entity linking, canonicalization,
  node/edge materialize) are cross-document by nature; re-resolving the
  whole graph inside every micro-batch is neither feasible at 10^12 docs
  nor what production KG systems do. They run as a periodic batch job over
  the ACCUMULATED extractions table — the lambda-architecture split:
  streaming upsert, periodic global refine.
- `refresh_graph_incremental` — the same refine, with linking's two
  Python-UDF stages memoized across refreshes in two append-only tables:
  `link_surfaces` (norm, MinHash bands) and `link_edge_scores` (a, b,
  jaccard, cosine). A refresh signs only surfaces it has not seen and
  scores only candidate pairs it has not scored; the candidate pairs
  themselves, and everything after linking, are recomputed in full.

At 100TB: each micro-batch's work is O(batch) (bucket-scoped merges; the
bucket count is sized to the cluster), and a refresh is O(accumulated
mentions) in JVM joins — schedulable off-peak, exactly like Iceberg table
maintenance — plus Python UDF work only for what arrived since the last
refresh.
"""

from __future__ import annotations

import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

from kernel_memory_spark import schema as S
from kernel_memory_spark.operators import (
    canonicalize as czn,
    embeddings as emb,
    extract as ext,
    linking as lnk,
    partition as prt,
    quarantine as qtn,
    save_records as sav,
    triples as tri,
)
from kernel_memory_spark.sources import tables
from kernel_memory_spark.sources.tables import TableCatalog
from kernel_memory_spark.streaming.pipeline import LEDGER, PipelineConfig

# input files: (doc_id, spans, tags) — CORPUS plus the per-doc tag map
INGEST_SCHEMA = StructType(
    list(S.CORPUS.fields)
    + [StructField("tags", S.DOC_TAGS.fields[1].dataType, True)]
)


def _merge_doc_scoped(catalog: TableCatalog, spark: SparkSession,
                      name: str, df: DataFrame, n_buckets: int) -> None:
    """Replace each incoming document's rows in `name` (doc_id-keyed
    bucket-scoped merge: old rows of the batch's docs drop, new rows land,
    untouched buckets carry by reference)."""
    catalog.merge_bucketed(
        spark, name, df, ["doc_id"], bucket_col="doc_id",
        n_buckets=n_buckets,
    )


def ingest_batch(
    spark: SparkSession,
    catalog: TableCatalog,
    batch_df: DataFrame,
    cfg: PipelineConfig,
    execution_id: str,
) -> dict:
    """Run the per-document stages for one micro-batch and merge into the
    shared tables. Idempotent per (execution_id, batch content)."""
    t0 = time.time()
    nb = cfg.records_buckets
    # ledger doc count rides the FIRST merge's job via observe() — a
    # metric must not cost a second pass over the batch source
    # (round-3 verdict item #2)
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    corpus = batch_df.select("doc_id", "spans").observe(
        obs, F.count(F.lit(1)).alias("n_docs")
    )
    tags = (
        batch_df.select("doc_id", "tags")
        if "tags" in batch_df.columns else None
    )

    _merge_doc_scoped(catalog, spark, "corpus", corpus, nb)
    if tags is not None:
        clean_tags, fatal = qtn.split_fatal_rows(
            tags, qtn.invalid_tag_keys_condition()
        )
        quarantined = qtn.quarantine_rows(
            fatal, "save_records", execution_id, "invalid_tag_key",
            detail=qtn.invalid_tag_keys_detail(),
        )
        if not quarantined.isEmpty():
            qtn.write_quarantine(catalog, quarantined)
        _merge_doc_scoped(catalog, spark, "doc_tags", tags, nb)
    else:
        clean_tags = None

    # localCheckpoint: each stage feeds BOTH its merge and the next stage —
    # truncate lineage so the UDF chain executes once per stage, not once
    # per downstream consumer
    extracted = ext.extract(corpus).localCheckpoint()
    _merge_doc_scoped(catalog, spark, "extracted", extracted, nb)

    parts = prt.partition(
        extracted, cfg.max_tokens, cfg.overlap, cfg.tokenizer
    ).localCheckpoint()
    _merge_doc_scoped(catalog, spark, "partitions", parts, nb)

    # dedupe=False for the same reason as the batch pipeline: the hermetic
    # hash embedder recomputes a duplicate chunk's vector cheaper than the
    # distinct+join-back shuffle; flip on for remote-model generators
    vecs = emb.gen_embeddings(
        parts, cfg.embedding_dim, dedupe=False
    ).localCheckpoint()
    _merge_doc_scoped(catalog, spark, "embeddings", vecs, nb)

    records = sav.build_records(
        prt.filter_artifact_types(parts), vecs, clean_tags, extracted,
        execution_id, cfg.last_update,
    )
    catalog.merge_bucketed(
        spark, "records", records, ["id"], bucket_col="doc_id",
        n_buckets=nb, anti_cols=["doc_id"],
    )

    extractions = tri.extract_all_df(parts).localCheckpoint()
    _merge_doc_scoped(catalog, spark, "extractions", extractions, nb)

    if cfg.cooccur_index:
        # fold this batch's co-mentions into the incremental PMI index:
        # basket = document, item = normalized mention surface;
        # replace=True keeps the index idempotent under doc re-delivery
        # (the same contract as every doc-scoped merge above)
        from kernel_memory_spark.operators import cooccur as co

        co.upsert_cooccur_index(
            spark, catalog, cfg.cooccur_index,
            tri.mentions_from_extractions(extractions).select(
                "doc_id", "norm"
            ),
            "doc_id", "norm", n_buckets=nb, replace=True,
        )

    # raw tags here, not clean_tags: the batch pipeline derives tag triples
    # from the stored doc_tags table (pipeline.py triples step), quarantine
    # only strips user tags from RECORDS — keep the two paths identical
    lineage = tri.lineage_triples(parts, extracted, tags, execution_id)
    mentions = tri.mentions_from_extractions(extractions)
    batch_triples = lineage.unionByName(
        tri.mention_triples(mentions, execution_id)
    )
    _merge_doc_scoped(catalog, spark, "triples_base", batch_triples, nb)

    wall_ms = int((time.time() - t0) * 1000)
    # collected during the corpus merge (the first action over the observe
    # node); no extra job
    n_docs = int(obs.get["n_docs"])
    _commit_stream_ledger(catalog, execution_id, n_docs, wall_ms)
    compacted = (
        _maybe_compact(spark, catalog, cfg)
        if cfg.compact_threshold else []
    )
    return {"n_docs": n_docs, "wall_ms": wall_ms, "compacted": compacted}


# the doc-scoped merge targets of ingest_batch — the tables whose bucket
# file counts grow by one entry per touching micro-batch
_STREAM_TABLES = (
    "corpus", "doc_tags", "extracted", "partitions", "embeddings",
    "records", "extractions", "triples_base",
)


def _maybe_compact(spark: SparkSession, catalog: TableCatalog,
                   cfg: PipelineConfig) -> list:
    """Off-hot-path table maintenance after a micro-batch commits: any
    merged table that absorbed more than cfg.compact_threshold merges
    since its last compaction — or whose most-crowded bucket exceeds that
    many manifest entries (append debt) — is folded back to one file per
    bucket, and the co-occurrence index additionally drops its zero-count
    tombstones. The trigger check is a driver-side manifest scan — free —
    so running it every batch is safe; the rewrite itself amortizes to
    O(table/threshold) per batch. Returns the tables compacted."""
    done = []
    for name in _STREAM_TABLES:
        if catalog.auto_compact(spark, name, cfg.compact_threshold):
            done.append(name)
    if cfg.cooccur_index:
        from kernel_memory_spark.operators import cooccur as co

        done += co.compact_cooccur_index(
            spark, catalog, cfg.cooccur_index, cfg.compact_threshold
        )
    return done


def _commit_stream_ledger(catalog: TableCatalog, execution_id: str,
                          n_docs: int, wall_ms: int) -> None:
    import datetime

    import pyarrow as pa

    now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    arrow_schema = pa.schema(
        [
            ("step", pa.string()), ("execution_id", pa.string()),
            ("bucket", pa.int32()), ("rows_in", pa.int64()),
            ("rows_out", pa.int64()), ("wall_ms", pa.int64()),
            ("committed_at", pa.timestamp("us")),
        ]
    )
    tables.append_rows_local(
        catalog, LEDGER,
        [{
            "step": "stream_batch", "execution_id": execution_id,
            "bucket": 0, "rows_in": int(n_docs), "rows_out": int(n_docs),
            "wall_ms": int(wall_ms), "committed_at": now,
        }],
        arrow_schema,
    )


def stream_ingest(
    spark: SparkSession,
    catalog: TableCatalog,
    source_dir: str,
    config: Optional[PipelineConfig] = None,
    checkpoint_dir: Optional[str] = None,
    schema: StructType = INGEST_SCHEMA,
    available_now: bool = True,
):
    """Start the streaming ingest over a parquet document directory.

    available_now=True processes everything currently in the directory and
    stops (deterministic for tests and backfills); False runs continuously.
    The file-source checkpoint gives exactly-once per input file across
    restarts. Returns the StreamingQuery."""
    cfg = config or PipelineConfig()
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(
            batch_df.sparkSession, catalog, batch_df, cfg,
            f"{cfg.execution_id}-b{batch_id}",
        )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{catalog.root}/_stream_checkpoint",
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def refresh_graph(
    spark: SparkSession,
    catalog: TableCatalog,
    config: Optional[PipelineConfig] = None,
    execution_id: str = "refresh",
) -> dict:
    """Periodic global refine over the accumulated extractions: entity
    linking -> canonical entity map -> canonical triples + nodes + edges +
    the zero-copy `triples` union snapshot. Mirrors the batch pipeline's
    link/canonicalize/materialize stages (pipeline.py:302-352) so a
    refreshed streaming catalog converges to exactly what the batch
    pipeline would produce over the same corpus (asserted by
    tests/test_streaming_ingest.py)."""
    cfg = config or PipelineConfig()
    t0 = time.time()
    extractions = catalog.read(spark, "extractions")
    mentions = tri.mentions_from_extractions(extractions).localCheckpoint()
    alias_edges = lnk.link_entities(
        mentions, cfg.jaccard_threshold, cfg.cosine_threshold
    )
    catalog.overwrite(alias_edges, "alias_edges")
    return _refine_graph(spark, catalog, extractions, mentions,
                         execution_id, t0)


def refresh_graph_incremental(
    spark: SparkSession,
    catalog: TableCatalog,
    config: Optional[PipelineConfig] = None,
    execution_id: str = "refresh",
) -> dict:
    """refresh_graph with MEMOIZED linking: MinHash signing runs only over
    surfaces no earlier refresh signed, and verification only over
    candidate pairs no earlier refresh scored
    (linking.refresh_links_incremental). Candidate pairs are rebuilt from
    the stored signatures of the current surfaces by the batch path's
    candidate_pairs, so the hot-bucket cap sees current counts. Connected
    components, canonical triples, and node/edge materialize remain global
    — pure JVM joins over (edges, mentions), and a new alias edge can merge
    two OLD components. Gives exactly refresh_graph's alias edges and
    entity map (parity tests), also after re-uploads that remove
    surfaces; the memo tables are compacted under cfg.compact_threshold."""
    cfg = config or PipelineConfig()
    t0 = time.time()
    extractions = catalog.read(spark, "extractions")
    mentions = tri.mentions_from_extractions(extractions).localCheckpoint()
    alias_edges = lnk.refresh_links_incremental(
        spark, catalog, mentions, cfg.jaccard_threshold,
        cfg.cosine_threshold, compact_threshold=cfg.compact_threshold,
    )
    catalog.overwrite(alias_edges, "alias_edges")
    return _refine_graph(spark, catalog, extractions, mentions,
                         execution_id, t0)


def _refine_graph(
    spark: SparkSession,
    catalog: TableCatalog,
    extractions: DataFrame,
    mentions: DataFrame,
    execution_id: str,
    t0: float,
) -> dict:
    """Shared tail of both refresh flavors: canonical entity map ->
    canonical triples -> nodes/edges -> zero-copy `triples` union."""
    emap = czn.entity_map(mentions, catalog.read(spark, "alias_edges"))
    catalog.overwrite(emap, "entity_map")
    emap = catalog.read(spark, "entity_map")

    canonical = tri.entity_triples(
        tri.patterns_from_extractions(extractions), emap, execution_id
    )
    catalog.overwrite(canonical, "triples_canonical")
    catalog.overwrite(czn.materialize_nodes(mentions, emap), "nodes")
    tables.commit_union(
        catalog, "triples", ["triples_base", "triples_canonical"]
    )
    edges = czn.materialize_edges(catalog.read(spark, "triples_canonical"))
    catalog.overwrite(edges, "edges")
    return {"wall_ms": int((time.time() - t0) * 1000)}
