"""Structured-Streaming ingestion: incremental KG construction.

The batch Pipeline (streaming/pipeline.py) processes ONE corpus per
catalog — per-stage snapshots overwrite, mirroring the reference's
one-DataPipeline-per-upload shape. A continuously arriving corpus needs the
queue-driven shape instead (DistributedPipelineOrchestrator.cs: each queue
message is a document batch routed through the handler chain). Both run the
same step table (`pipeline.doc_rows` / `pipeline.graph_rows`) on the same
scheduler (`pipeline.run_steps`); only the writer differs:

- `ingest_batch` / `stream_ingest` — `readStream` over a document directory
  -> `foreachBatch`; every micro-batch runs the PER-DOCUMENT rows (corpus,
  doc_tags -> extract -> partition -> embeddings -> records,
  extractions -> triples_base) with a doc-scoped writer: each frame is
  MERGED into the shared table bucket-scoped on doc_id, so a re-delivered
  or re-uploaded document replaces exactly its own rows (the streaming
  analog of DeletePreviousRecordsAsync, SaveRecordsHandler.cs:297-323), and
  later rows read a lazy localCheckpoint of the frame that the merge's own
  write materializes. Independent merges overlap (corpus ‖ doc_tags;
  embeddings -> records ‖ extractions -> triples_base). Exactly-once per
  input file comes from the file source's checkpoint tracking; a batch that
  crashes mid-merge re-runs safely because every merge is a snapshot
  commit (Q3). One `stream_batch` ledger row records the batch.
- `refresh_graph` — the GLOBAL rows (entity linking, canonicalization,
  node/edge materialize) are cross-document by nature; re-resolving the
  whole graph inside every micro-batch is neither feasible at 10^12 docs
  nor what production KG systems do. They run as a periodic batch job over
  the ACCUMULATED extractions table, with the batch pipeline's snapshot
  writer and no ledger — the lambda-architecture split: streaming upsert,
  periodic global refine.
- `refresh_graph_incremental` — the same rows with a different link
  function: linking's two Python-UDF stages are memoized across refreshes
  in two append-only tables, `link_surfaces` (norm, MinHash bands) and
  `link_edge_scores` (a, b, jaccard, cosine). A refresh signs only surfaces
  it has not seen and scores only candidate pairs it has not scored; the
  candidate pairs themselves, and everything after linking, are recomputed
  in full.

At 100TB: each micro-batch's work is O(batch) (bucket-scoped merges; the
bucket count is sized to the cluster), and a refresh is O(accumulated
mentions) in JVM joins — schedulable off-peak, exactly like Iceberg table
maintenance — plus Python UDF work only for what arrived since the last
refresh.
"""

from __future__ import annotations

import time
from typing import Callable, Dict, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from kernel_memory_spark import schema as S
from kernel_memory_spark.operators import linking as lnk, triples as tri
from kernel_memory_spark.sources.tables import TableCatalog
from kernel_memory_spark.streaming.pipeline import (
    PipelineConfig,
    Row,
    commit_ledger,
    doc_rows,
    graph_rows,
    run_steps,
    snapshot_writer,
)

# input files: (doc_id, spans, tags) — CORPUS plus the per-doc tag map
INGEST_SCHEMA = StructType(
    list(S.CORPUS.fields)
    + [StructField("tags", S.DOC_TAGS.fields[1].dataType, True)]
)


def ingest_batch(
    spark: SparkSession,
    catalog: TableCatalog,
    batch_df: DataFrame,
    cfg: PipelineConfig,
    execution_id: str,
) -> dict:
    """Run the per-document rows for one micro-batch, merging each into the
    shared tables. Idempotent per (execution_id, batch content)."""
    t0 = time.time()
    # each merge's row count rides its own write via observe() — a metric
    # must not cost a second pass over the batch (observed below the
    # checkpoint, the count would come from no query and read 0)
    counts: Dict[str, Observation] = {}

    def merge(name: str, df: DataFrame) -> DataFrame:
        # lazy: the merge's own write materializes the checkpoint, so later
        # rows read it instead of re-running the UDF chain behind `df`
        ck = df.localCheckpoint(eager=False)
        counts[name] = Observation()
        observed = ck.observe(counts[name], F.count(F.lit(1)).alias("n"))
        catalog.merge_bucketed(
            spark, name, observed, ["doc_id"], bucket_col="doc_id",
            n_buckets=cfg.records_buckets,
        )
        return ck

    def cooccur(get):
        # fold this batch's co-mentions into the incremental PMI index:
        # basket = document, item = normalized mention surface;
        # replace=True keeps the index idempotent under doc re-delivery
        # (the same contract as every doc-scoped merge)
        from kernel_memory_spark.operators import cooccur as co

        co.upsert_cooccur_index(
            spark, catalog, cfg.cooccur_index,
            tri.mentions_from_extractions(get("extractions")).select(
                "doc_id", "norm"
            ),
            "doc_id", "norm", n_buckets=cfg.records_buckets, replace=True,
        )

    tags = (
        batch_df.select("doc_id", "tags")
        if "tags" in batch_df.columns else None
    )
    rows = doc_rows(spark, catalog, cfg, execution_id,
                    batch_df.select("doc_id", "spans"), tags)
    if cfg.cooccur_index:
        rows.append(Row(None, ("extractions",), cfg.cooccur_index, cooccur))
    run_steps(spark, rows, merge, read=lambda name: None)

    wall_ms = int((time.time() - t0) * 1000)
    n_docs = int(counts["corpus"].get["n"])
    commit_ledger(catalog, "stream_batch", execution_id,
                  [(0, n_docs, n_docs)], wall_ms)
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
    the zero-copy `triples` union snapshot. The batch pipeline's graph rows
    under its snapshot writer, so a refreshed streaming catalog converges to
    exactly what the batch pipeline would produce over the same corpus
    (asserted by tests/test_streaming_ingest.py)."""
    cfg = config or PipelineConfig()
    return _refresh(spark, catalog, execution_id, lambda mentions:
                    lnk.link_entities(mentions, cfg.jaccard_threshold,
                                      cfg.cosine_threshold))


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
    return _refresh(spark, catalog, execution_id, lambda mentions:
                    lnk.refresh_links_incremental(
                        spark, catalog, mentions, cfg.jaccard_threshold,
                        cfg.cosine_threshold,
                        compact_threshold=cfg.compact_threshold,
                    ))


def _refresh(spark: SparkSession, catalog: TableCatalog, execution_id: str,
             link: Callable[[DataFrame], DataFrame]) -> dict:
    t0 = time.time()
    # the rows read one table they do not write, extractions (triples_base
    # is only waited on), under its known schema: no inference job
    run_steps(spark, graph_rows(catalog, execution_id, link),
              snapshot_writer(spark, catalog),
              lambda name: catalog.read(spark, name,
                                        schema=tri._EXTRACT_SCHEMA))
    return {"wall_ms": int((time.time() - t0) * 1000)}
