"""Resumable KG-construction pipeline: one step table, one scheduler.

Reproduces the reference's pipeline-step/resumability contract (SURVEY §2.9)
on Spark. Kernel Memory routes every document through one handler chain
(`DataPipeline.steps` / `remaining_steps` / `completed_steps`); here that
chain is written once, as a table of `Row(step, reads, writes, fn)`:

- one row per table written. `doc_rows` is the per-document chain: corpus,
  doc_tags, extracted, partitions, embeddings, records (with quarantine
  routing), extractions, triples_base. `graph_rows` is the global chain
  over the extractions: alias_edges, entity_map, triples_canonical, nodes,
  the zero-copy `triples` union and edges. Registered custom steps are
  appended as rows. A row's `step` is its ledger step — the default
  handler chain (Constants.cs:166-169) extended with the KG stages.
- `run_steps` runs a table on a thread pool: a row starts once every table
  it reads is committed, so independent rows overlap (guide §2.6); a
  ledger step commits once all of its rows have; every row still running
  is joined before `run_steps` returns or raises, so a retried run never
  races an orphaned writer.
- only the writer differs between callers. `Pipeline.run` and the graph
  refreshes commit each frame as a snapshot overwrite and hand later rows a
  read-back under the written frame's schema (no schema-inference job).
  `streaming.ingest.ingest_batch` merges each frame doc-scoped and hands on
  a lazy localCheckpoint that the merge's own write materializes. The
  records row merges bucket-scoped on doc_id under both writers: purge of
  superseded records + upsert (SaveRecordsHandler.cs:297-323).

After a step commits, its `step_ledger` rows (step, execution_id, bucket,
rows, wall_ms from the step's own start) are appended — the columnar analog
of MoveToNextStep + UpdatePipelineStatusAsync
(InProcessPipelineOrchestrator.cs:157-204) with per-partition lineage.
`resume=True` drops the rows of steps already in the ledger for this
execution_id (the per-file `processed_by` markers, DataPipeline.cs:132-147)
and reads their tables from the committed snapshots, so a crash anywhere
resumes exactly (snapshot isolation = Q3's rollback safety).
"""

from __future__ import annotations

import threading
import time
from collections import Counter
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable, Dict, List, NamedTuple, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

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

LEDGER = "step_ledger"


@dataclass
class PipelineConfig:
    execution_id: str = "exec-0001"
    max_tokens: int = 1000
    overlap: int = 100
    tokenizer: str = "4char"
    embedding_dim: int = 64
    jaccard_threshold: float = lnk.JACCARD_THRESHOLD
    cosine_threshold: float = lnk.COSINE_THRESHOLD
    last_update: str = "1970-01-01T00:00:00"
    per_bucket_metrics: bool = True
    # records-table hash buckets (doc_id): merge rewrites only touched ones.
    # Also the write parallelism of the records commit — keep >= the
    # executor-core count (at real scale: thousands).
    records_buckets: int = 32
    steps: List[str] = field(default_factory=lambda: list(S.KG_STEPS))
    # streaming only: when set, every micro-batch also folds its docs'
    # normalized mentions into the named incremental co-occurrence index
    # (operators/cooccur.upsert_cooccur_index, basket = doc, replace=True
    # so re-delivered docs replace their prior contribution) — PMI
    # co-mention edges become queryable from the persisted counts without
    # any corpus re-scan (pmi_from_index).
    cooccur_index: Optional[str] = None
    # streaming only: after a micro-batch commits, compact any merged
    # table that absorbed more than this many merges since its last
    # compaction (or piled up appended manifest entries past the same
    # bound): fold multi-entry buckets to one file each and purge
    # co-occurrence zero-count tombstones while rewriting. The check is a
    # free manifest scan per table; the rewrite is paid once per
    # ~threshold merges, so file count AND tombstone rows stay bounded
    # across unbounded micro-batches. refresh_graph_incremental applies the
    # same bound to its two append-only link memo tables. None disables
    # (callers that schedule table maintenance externally, Iceberg-style).
    compact_threshold: Optional[int] = 8


# -- the step table ------------------------------------------------------------

class Row(NamedTuple):
    """One row of the step table: `fn(get)` builds the frame committed as
    table `writes` from the frames of the tables in `reads` (`get(name)`),
    or commits `writes` itself and returns None."""
    step: Optional[str]
    reads: Tuple[str, ...]
    writes: str
    fn: Callable


def doc_rows(spark: SparkSession, catalog: TableCatalog, cfg: PipelineConfig,
             execution_id: str, corpus: Optional[DataFrame],
             doc_tags: Optional[DataFrame]) -> List[Row]:
    """The per-document chain, corpus -> triples_base. `corpus` and
    `doc_tags` are the frames the ingest rows commit (no tags row when
    `doc_tags` is None)."""

    def records(get):
        # Fatal-row routing (ReturnType.FatalError analog): doc-tag rows
        # whose keys fail TagCollection.ValidateKey would throw in the
        # reference — here they go to the quarantine table and the document
        # proceeds WITHOUT its user tags (reserved tags intact).
        tags = get("doc_tags")
        if tags is not None:
            tags = qtn.route_fatal_rows(
                catalog, tags, qtn.invalid_tag_keys_condition(),
                "save_records", execution_id, "invalid_tag_key",
                detail=qtn.invalid_tag_keys_detail(),
            )
        # F3: only TextPartition/SyntheticData artifacts become records
        # (SaveRecordsHandler.GetListOfPartitionFiles)
        recs = sav.build_records(
            prt.filter_artifact_types(get("partitions")), get("embeddings"),
            tags, get("extracted"), execution_id, cfg.last_update,
        )
        # Purge-of-superseded + upsert fused into ONE bucket-scoped merge
        # (anti on doc_id = DeletePreviousRecordsAsync semantics): only the
        # doc_id-hash buckets this batch touches are rewritten.
        catalog.merge_bucketed(
            spark, "records", recs, ["id"], bucket_col="doc_id",
            n_buckets=cfg.records_buckets, anti_cols=["doc_id"],
        )

    def triples_base(get):
        # raw tags, not the quarantine-cleaned ones: quarantine strips user
        # tags from RECORDS only, tag-lineage triples keep them
        lineage = tri.lineage_triples(
            get("partitions"), get("extracted"), get("doc_tags"), execution_id
        )
        mentions = tri.mentions_from_extractions(get("extractions"))
        return lineage.unionByName(tri.mention_triples(mentions, execution_id))

    tags_row = [] if doc_tags is None else [
        Row("ingest", (), "doc_tags", lambda get: doc_tags)
    ]
    return tags_row + [
        Row("ingest", (), "corpus", lambda get: corpus),
        Row("extract", ("corpus",), "extracted",
            lambda get: ext.extract(get("corpus"))),
        Row("partition", ("extracted",), "partitions",
            lambda get: prt.partition(
                get("extracted"), cfg.max_tokens, cfg.overlap, cfg.tokenizer
            )),
        # dedupe=False: the distinct-texts + join-back path exists to avoid
        # paying a REMOTE model endpoint twice for identical chunks; with
        # the hermetic hash embedder it costs a shuffle + join to save a ~µs
        # recomputation (measured 2.2x the stage wall at a 98.6%
        # unique-chunk rate). A model-endpoint generator should flip it on.
        Row("gen_embeddings", ("partitions",), "embeddings",
            lambda get: emb.gen_embeddings(
                get("partitions"), cfg.embedding_dim, dedupe=False
            )),
        Row("save_records", ("partitions", "embeddings", "doc_tags",
                             "extracted"), "records", records),
        # one Arrow pass extracts mentions AND pattern triples; it reads
        # only the partitions, so it overlaps embeddings and records
        Row("triples", ("partitions",), "extractions",
            lambda get: tri.extract_all_df(get("partitions"))),
        Row("triples", ("partitions", "extracted", "doc_tags", "extractions"),
            "triples_base", triples_base),
    ]


def graph_rows(catalog: TableCatalog, execution_id: str,
               link: Callable[[DataFrame], DataFrame]) -> List[Row]:
    """The global chain over the extractions table, alias_edges -> edges.
    `link(mentions)` builds the alias edges."""

    def mentions(get):
        return tri.mentions_from_extractions(get("extractions"))

    def union(get):
        # zero-copy: the `triples` snapshot points at the base + canonical
        # data files, nothing is rewritten
        tables.commit_union(
            catalog, "triples", ["triples_base", "triples_canonical"]
        )

    return [
        Row("link", ("extractions",), "alias_edges",
            lambda get: link(mentions(get))),
        Row("canonicalize", ("extractions", "alias_edges"), "entity_map",
            lambda get: czn.entity_map(mentions(get), get("alias_edges"))),
        Row("materialize", ("extractions", "entity_map"), "triples_canonical",
            lambda get: tri.entity_triples(
                tri.patterns_from_extractions(get("extractions")),
                get("entity_map"), execution_id,
            )),
        Row("materialize", ("extractions", "entity_map"), "nodes",
            lambda get: czn.materialize_nodes(mentions(get), get("entity_map"))),
        Row("materialize", ("triples_base", "triples_canonical"), "triples",
            union),
        Row("materialize", ("triples_canonical",), "edges",
            lambda get: czn.materialize_edges(get("triples_canonical"))),
    ]


def snapshot_writer(spark: SparkSession, catalog: TableCatalog) -> Callable:
    """Commit a row's frame as a snapshot overwrite; later rows read the
    committed files under the written frame's schema (no inference job)."""
    def write(name: str, df: DataFrame) -> DataFrame:
        catalog.overwrite(df, name)
        return catalog.read(spark, name, schema=df.schema)
    return write


def run_steps(spark: SparkSession, rows: List[Row],
              write: Callable[[str, DataFrame], DataFrame],
              read: Callable[[str], Optional[DataFrame]],
              commit: Optional[Callable[[str, float], None]] = None,
              stop_after: Optional[str] = None) -> None:
    """Run a step table. A row starts on a worker thread once no unfinished
    row writes a table it reads. `write(name, df)` commits a row's frame and
    returns the frame later rows get for `name`; `read(name)` supplies the
    tables no row writes. Once all rows of a ledger step have committed,
    `commit(step, start)` runs, `start` being when the step's first row
    started; after `stop_after`'s commit no further row starts. A failed row
    stops further starts too. Returns, or raises the first failure, only
    once no row is running."""
    lock = threading.Lock()
    frames: Dict[str, Optional[DataFrame]] = {}
    started: Dict[str, float] = {}
    errors: List[BaseException] = []
    left = Counter(r.step for r in rows)
    pending, running = list(rows), []
    finished: Future = Future()
    pool = ThreadPoolExecutor(max_workers=max(len(rows), 1))

    def get(name: str) -> Optional[DataFrame]:
        if name not in frames:
            frames[name] = read(name)
        return frames[name]

    def launch() -> None:  # under lock
        unwritten = {r.writes for r in pending + running}
        for row in [r for r in pending
                    if unwritten.isdisjoint(set(r.reads) - {r.writes})]:
            pending.remove(row)
            running.append(row)
            started.setdefault(row.step, time.time())
            pool.submit(targets[row.writes], row)
        if running:
            return
        if pending:
            errors.append(RuntimeError(
                f"step table rows {[r.writes for r in pending]} wait on "
                "each other"))
        if errors:
            finished.set_exception(errors[0])
        else:
            finished.set_result(None)

    def execute(row: Row) -> None:
        try:
            out = row.fn(get)
            if out is not None:
                frames[row.writes] = write(row.writes, out)
            with lock:
                left[row.step] -= 1
                step_done = row.step is not None and not left[row.step]
                if step_done and row.step == stop_after:
                    pending.clear()
            if step_done and commit is not None:
                commit(row.step, started[row.step])
        except BaseException as e:  # raised on the caller's thread
            with lock:
                errors.append(e)
                pending.clear()
        finally:
            with lock:
                running.remove(row)
                launch()

    def inherit() -> Callable[[Row], None]:
        # a row runs under the caller's Spark local properties (its job
        # group), on its own copy taken here on the caller's thread; with
        # pinned threads off there is no per-thread copy to carry
        wrap = inheritable_thread_target(spark)
        return execute if wrap is spark else wrap(execute)

    targets = {r.writes: inherit() for r in rows}
    try:
        with lock:
            launch()
        finished.result()
    finally:
        with lock:
            pending.clear()
        pool.shutdown(wait=True, cancel_futures=True)


def commit_ledger(catalog: TableCatalog, step: str, execution_id: str,
                  buckets: List[tuple], wall_ms: int) -> None:
    """Append one ledger row per (bucket, rows_in, rows_out) of `step`.
    Ledger rows are driver-side metadata: written with pyarrow directly,
    not a Spark job."""
    import datetime

    import pyarrow as pa

    now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    rows = [
        {
            "step": step, "execution_id": execution_id, "bucket": int(b),
            "rows_in": int(n_in), "rows_out": int(n_out),
            "wall_ms": int(wall_ms), "committed_at": now,
        }
        for b, n_in, n_out in buckets
    ]
    arrow_schema = pa.schema(
        [
            ("step", pa.string()), ("execution_id", pa.string()),
            ("bucket", pa.int32()), ("rows_in", pa.int64()),
            ("rows_out", pa.int64()), ("wall_ms", pa.int64()),
            ("committed_at", pa.timestamp("us")),
        ]
    )
    tables.append_rows_local(catalog, LEDGER, rows, arrow_schema)


class Pipeline:
    def __init__(self, spark: SparkSession, catalog: TableCatalog,
                 config: Optional[PipelineConfig] = None):
        self.spark = spark
        self.catalog = catalog
        self.cfg = config or PipelineConfig()
        self.metrics: Dict[str, dict] = {}
        # serializes ledger commits: steps finish on worker threads, and
        # append_rows_local's read-manifest/write-manifest/replace sequence
        # is not atomic
        self._commit_lock = threading.Lock()
        # (step_name, input_table, DataFrame -> DataFrame, ...), appended to
        # the step table — the IPipelineStepHandler extension point
        self.custom_steps: List[tuple] = []
        # ledger step -> the table its ledger rows count (its last row's)
        self._step_tables: Dict[str, str] = {}

    def register_step(self, name: str, input_table: str, fn,
                      fatal_condition=None, fatal_reason: str = "fatal_row",
                      key_col: str = "doc_id") -> "Pipeline":
        """Register an IPipelineStepHandler-style custom step. An optional
        `fatal_condition` Column routes poison rows to the quarantine table
        (ReturnType.FatalError analog) before `fn` sees the input; the step
        then completes over the clean rows."""
        self.custom_steps.append(
            (name, input_table, fn, fatal_condition, fatal_reason, key_col)
        )
        return self

    # -- ledger ------------------------------------------------------------

    def _completed_steps(self) -> set:
        if not self.catalog.exists(LEDGER):
            return set()
        rows = (
            self.catalog.read(self.spark, LEDGER)
            .filter(F.col("execution_id") == self.cfg.execution_id)
            .select("step")
            .distinct()
            .collect()
        )
        return {r.step for r in rows}

    def cancel_stale_executions(self) -> int:
        """Q4: drop ledger rows of OTHER executions so their remaining queued
        work is never resumed — the analog of the reference dropping queue
        messages whose execution id is stale
        (DataPipeline.PreviousExecutionsToPurge + orchestrator checks).
        Stage tables themselves are superseded by each stage's snapshot
        overwrite. Returns the number of stale rows removed."""
        if not self.catalog.exists(LEDGER):
            return 0
        ledger = self.catalog.read(self.spark, LEDGER)
        stale = ledger.filter(
            F.col("execution_id") != self.cfg.execution_id
        ).count()
        if stale:
            self.catalog.delete_where(
                self.spark, LEDGER,
                F.col("execution_id") != self.cfg.execution_id,
            )
        return stale

    def _commit_step(self, step: str, start: float) -> None:
        # Per-partition lineage from parquet footers — the committed files
        # ARE the partitions; no extra Spark job for metrics.
        file_counts = tables.table_file_counts(
            self.catalog, self._step_tables[step]
        )
        rows_out = sum(n for _, n in file_counts)
        buckets = (
            [(i, 0, n) for i, (_, n) in enumerate(file_counts)]
            if self.cfg.per_bucket_metrics else []
        )
        wall_ms = int((time.time() - start) * 1000)
        with self._commit_lock:
            commit_ledger(self.catalog, step, self.cfg.execution_id,
                          buckets or [(0, 0, rows_out)], wall_ms)
            self.metrics[step] = {
                "rows_in": 0, "rows_out": rows_out, "wall_ms": wall_ms,
            }

    def _read(self, name: str) -> Optional[DataFrame]:
        """A table no row of this run writes: its committed snapshot."""
        if not self.catalog.exists(name):
            return None
        df = self.catalog.read(self.spark, name)
        # self-upgrade pre-artifact_type catalogs on read (resume safety)
        return prt.upgrade_partitions(df) if name == "partitions" else df

    def _custom_row(self, name: str, input_table: str, fn, fatal_condition,
                    reason: str, key_col: str) -> Row:
        """Custom steps (the IPipelineStepHandler surface, SURVEY §2.10): a
        named DataFrame -> DataFrame function over a catalog table,
        committed to a table of the step's name."""
        def run(get):
            df = get(input_table)
            if fatal_condition is not None:
                df = qtn.route_fatal_rows(
                    self.catalog, df, fatal_condition, name,
                    self.cfg.execution_id, reason, key_col=key_col,
                )
            return fn(df)
        return Row(name, (input_table,), name, run)

    # -- the run -------------------------------------------------------------

    def run(self, corpus: Optional[DataFrame] = None,
            doc_tags: Optional[DataFrame] = None, resume: bool = False,
            stop_after: Optional[str] = None) -> dict:
        """Run (or resume) the full pipeline. `corpus`/`doc_tags` are only
        required on the first run; resumed runs read committed snapshots.
        `stop_after` simulates a crash directly after that step's ledger
        commit (used by the resume tests). Returns this run's per-step
        metrics."""
        cat, spark, cfg = self.catalog, self.spark, self.cfg
        done = self._completed_steps() if resume else set()
        if "ingest" not in done and corpus is None:
            raise ValueError("corpus required for a fresh run")
        rows = (
            doc_rows(spark, cat, cfg, cfg.execution_id, corpus, doc_tags)
            + graph_rows(cat, cfg.execution_id, lambda mentions:
                         lnk.link_entities(mentions, cfg.jaccard_threshold,
                                           cfg.cosine_threshold))
            + [self._custom_row(*s) for s in self.custom_steps]
        )
        self._step_tables = {r.step: r.writes for r in rows}
        run_steps(spark, [r for r in rows if r.step not in done],
                  snapshot_writer(spark, cat), self._read, self._commit_step,
                  stop_after)
        return self.metrics
