"""Resumable KG-construction pipeline orchestrator.

Reproduces the reference's pipeline-step/resumability contract (SURVEY §2.9)
on Spark:

- the step chain extract -> partition -> gen_embeddings -> save_records ->
  triples -> link -> canonicalize -> materialize mirrors the default handler
  chain (Constants.cs:166-169) extended with the KG stages;
- after every stage the output is committed as a table snapshot and a
  `step_ledger` row (step, execution_id, bucket, rows, wall_ms) is appended —
  the columnar analog of MoveToNextStep + UpdatePipelineStatusAsync
  (InProcessPipelineOrchestrator.cs:157-204) with per-partition lineage;
- `resume=True` skips any step already in the ledger for this execution_id —
  the anti-join analog of the per-file `processed_by` markers
  (DataPipeline.cs:132-147): a re-run of a completed stage is a no-op;
- stage inputs are read back from the committed snapshots, so a crash
  between stages resumes exactly (snapshot isolation = Q3's rollback safety);
- a new execution_id over the same documents purges superseded records
  (SaveRecordsHandler.cs:297-323) via the keep-set anti-join.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


class Pipeline:
    def __init__(self, spark: SparkSession, catalog: TableCatalog,
                 config: Optional[PipelineConfig] = None):
        import threading

        self.spark = spark
        self.catalog = catalog
        self.cfg = config or PipelineConfig()
        self.metrics: Dict[str, dict] = {}
        # serializes ledger commits: the overlapped save_records step and
        # the KG chain may finish concurrently, and append_rows_local's
        # read-manifest/write-manifest/replace sequence is not atomic
        self._commit_lock = threading.Lock()
        # (step_name, input_table, DataFrame -> DataFrame), run after the
        # built-in chain — the IPipelineStepHandler extension point
        self.custom_steps: List[tuple] = []

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

    def _commit_step(self, step: str, rows_in: int, rows_out: int,
                     wall_ms: int, buckets: Optional[List[tuple]] = None) -> None:
        import datetime

        import pyarrow as pa

        now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
        rows = [
            {
                "step": step, "execution_id": self.cfg.execution_id,
                "bucket": int(b), "rows_in": int(n_in), "rows_out": int(n_out),
                "wall_ms": int(wall_ms), "committed_at": now,
            }
            for b, n_in, n_out in (buckets or [(0, rows_in, rows_out)])
        ]
        arrow_schema = pa.schema(
            [
                ("step", pa.string()), ("execution_id", pa.string()),
                ("bucket", pa.int32()), ("rows_in", pa.int64()),
                ("rows_out", pa.int64()), ("wall_ms", pa.int64()),
                ("committed_at", pa.timestamp("us")),
            ]
        )
        # ledger rows are driver-side metadata: written with pyarrow directly,
        # not a Spark job (9 stages x 1 job of pure scheduling otherwise)
        with self._commit_lock:
            tables.append_rows_local(self.catalog, LEDGER, rows, arrow_schema)
        self.metrics[step] = {
            "rows_in": rows_in, "rows_out": rows_out, "wall_ms": wall_ms,
        }

    def _run_step(self, step: str, fn: Callable[[], DataFrame],
                  table: str, writer: str = "overwrite") -> None:
        t0 = time.time()
        df = fn()
        if writer == "merge_records":
            self.catalog.merge(self.spark, table, df, ["id"])
        else:
            self.catalog.overwrite(df, table)

        # Per-partition lineage from parquet footers — the committed files
        # ARE the partitions; no extra Spark job for metrics.
        file_counts = tables.table_file_counts(self.catalog, table)
        rows_out = sum(n for _, n in file_counts)
        if self.cfg.per_bucket_metrics:
            buckets = [(i, 0, n) for i, (_, n) in enumerate(file_counts)]
        else:
            buckets = None
        wall_ms = int((time.time() - t0) * 1000)
        self._commit_step(step, 0, rows_out, wall_ms, buckets)

    # -- the DAG -------------------------------------------------------------

    def run(self, corpus: Optional[DataFrame] = None,
            doc_tags: Optional[DataFrame] = None, resume: bool = False,
            stop_after: Optional[str] = None) -> dict:
        """Run (or resume) the full pipeline. `corpus`/`doc_tags` are only
        required on the first run; resumed runs read committed snapshots.
        `stop_after` simulates a crash directly after that step's commit
        (used by the resume tests).

        Steps overlapped on worker threads are joined on every exit path:
        when a step fails, run() raises only after the writers already
        running have finished, so a retried run never races an orphaned
        write of the same table."""
        pools: list = []
        try:
            return self._run(pools, corpus, doc_tags, resume, stop_after)
        finally:
            for pool in pools:
                pool.shutdown(wait=True, cancel_futures=True)

    def _run(self, pools: list, corpus: Optional[DataFrame],
             doc_tags: Optional[DataFrame], resume: bool,
             stop_after: Optional[str]) -> dict:
        cat, spark, cfg = self.catalog, self.spark, self.cfg

        def background(fn):
            """Submit fn on its own worker thread; run() shuts the pool
            down."""
            from concurrent.futures import ThreadPoolExecutor

            pool = ThreadPoolExecutor(max_workers=1)
            pools.append(pool)
            return pool.submit(fn)

        done = self._completed_steps() if resume else set()

        def crashed(step: str) -> bool:
            return stop_after is not None and step == stop_after

        if "ingest" not in done:
            if corpus is None:
                raise ValueError("corpus required for a fresh run")
            t0 = time.time()
            if doc_tags is not None:
                # independent writes -> concurrent jobs (overlap the per-job
                # scheduling floor, same as the materialize stage)
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=2) as pool:
                    f1 = pool.submit(cat.overwrite, corpus, "corpus")
                    f2 = pool.submit(cat.overwrite, doc_tags, "doc_tags")
                    f1.result(), f2.result()
            else:
                cat.overwrite(corpus, "corpus")
            self._commit_step("ingest", 0,
                              tables.table_row_count(cat, "corpus"),
                              int((time.time() - t0) * 1000))
        if crashed("ingest"):
            return self.metrics

        corpus_t = cat.read(spark, "corpus")
        tags_t = cat.read(spark, "doc_tags") if cat.exists("doc_tags") else None

        if "extract" not in done:
            self._run_step("extract", lambda: ext.extract(corpus_t), "extracted")
        if crashed("extract"):
            return self.metrics
        extracted = cat.read(spark, "extracted")

        if "partition" not in done:
            self._run_step(
                "partition",
                lambda: prt.partition(
                    extracted, cfg.max_tokens, cfg.overlap, cfg.tokenizer
                ),
                "partitions",
            )
        if crashed("partition"):
            return self.metrics
        # self-upgrade pre-artifact_type catalogs on read (resume safety)
        partitions = prt.upgrade_partitions(cat.read(spark, "partitions"))

        # The extractions table (one Arrow pass of mention/pattern rules
        # over partition text) depends ONLY on the committed partitions
        # table — not on embeddings or records — so its write starts here
        # and overlaps the gen_embeddings + save_records stages (guide
        # §2.6). The "triples" step below joins this future before doing
        # anything, and its ledger row still commits only after all triples
        # writes are durable; a crash before that row simply re-runs the
        # (idempotent, snapshot-overwrite) extraction. Serial under
        # stop_after, as for the other overlapped steps.
        extractions_t0 = time.time()
        extractions_fut = None
        if "triples" not in done and stop_after is None:
            extractions_fut = background(
                lambda: cat.overwrite(
                    tri.extract_all_df(partitions), "extractions"
                )
            )

        if "gen_embeddings" not in done:
            # dedupe=False: the distinct-texts + join-back path exists to
            # avoid paying a REMOTE model endpoint twice for identical
            # chunks; with the hermetic hash embedder it costs a shuffle +
            # join to save a ~µs recomputation (measured 2.2x the stage wall
            # at a 98.6% unique-chunk rate). A deployment that swaps in a
            # model-endpoint generator should flip this back on — the
            # operator keeps the parameter.
            self._run_step(
                "gen_embeddings",
                lambda: emb.gen_embeddings(
                    partitions, cfg.embedding_dim, dedupe=False
                ),
                "embeddings",
            )
        if crashed("gen_embeddings"):
            return self.metrics
        embeddings = cat.read(spark, "embeddings")

        def _save_records_step():
            t0 = time.time()
            # Fatal-row routing (ReturnType.FatalError analog): doc-tag rows
            # whose keys fail TagCollection.ValidateKey would throw in the
            # reference — here they are split to the quarantine table and the
            # document proceeds WITHOUT its user tags (reserved tags intact).
            clean_tags = tags_t
            if tags_t is not None:
                clean_tags, fatal = qtn.split_fatal_rows(
                    tags_t, qtn.invalid_tag_keys_condition()
                )
                quarantined = qtn.quarantine_rows(
                    fatal, "save_records", cfg.execution_id,
                    "invalid_tag_key",
                    detail=qtn.invalid_tag_keys_detail(),
                )
                if not quarantined.isEmpty():
                    qtn.write_quarantine(cat, quarantined)
            # F3: only TextPartition/SyntheticData artifacts become records
            # (SaveRecordsHandler.GetListOfPartitionFiles)
            savable = prt.filter_artifact_types(partitions)
            records = sav.build_records(
                savable, embeddings, clean_tags, extracted,
                cfg.execution_id, cfg.last_update,
            )
            # Purge-of-superseded + upsert fused into ONE bucket-scoped merge
            # (anti on doc_id = DeletePreviousRecordsAsync semantics): only
            # the doc_id-hash buckets this execution touches are rewritten —
            # at 100TB an incremental ingest no longer rewrites the table.
            self.catalog.merge_bucketed(
                spark, "records", records, ["id"],
                bucket_col="doc_id", n_buckets=cfg.records_buckets,
                anti_cols=["doc_id"],
            )
            rows_out = tables.table_row_count(cat, "records")
            self._commit_step("save_records", 0, rows_out,
                              int((time.time() - t0) * 1000))

        # save_records touches only the records/quarantine tables; the
        # triples -> link -> canonicalize -> materialize chain reads none of
        # them. Submitting save_records on a worker thread lets its jobs
        # back-fill executor capacity left by the KG chain's stage tails
        # (guide §2.6 — on a real cluster the FAIR scheduler does the same),
        # hiding its wall entirely. The serial path is kept whenever
        # `stop_after` simulates a crash (commit order is then part of the
        # contract) — resume semantics are unaffected either way because the
        # ledger is a set, not a sequence. Ledger commits themselves are
        # serialized by _commit_lock.
        save_fut = None
        if "save_records" not in done:
            if stop_after is None:
                save_fut = background(_save_records_step)
            else:
                _save_records_step()
        if crashed("save_records"):
            return self.metrics

        triples_fut = None
        if "triples" not in done:
            t_triples = extractions_t0
            # one Arrow pass extracts mentions AND pattern triples; the
            # extractions table is what the link/canonicalize chain reads —
            # join the overlapped write started above (or run it serially
            # under stop_after)
            if extractions_fut is not None:
                extractions_fut.result()
            else:
                cat.overwrite(tri.extract_all_df(partitions), "extractions")

            def _triples_base():
                lineage = tri.lineage_triples(
                    partitions, extracted, tags_t, cfg.execution_id
                )
                mentions = tri.mentions_from_extractions(
                    cat.read(spark, "extractions")
                )
                df = lineage.unionByName(
                    tri.mention_triples(mentions, cfg.execution_id)
                )
                cat.overwrite(df, "triples_base")
                file_counts = tables.table_file_counts(cat, "triples_base")
                rows_out = sum(n for _, n in file_counts)
                buckets = (
                    [(i, 0, n) for i, (_, n) in enumerate(file_counts)]
                    if self.cfg.per_bucket_metrics else None
                )
                self._commit_step(
                    "triples", 0, rows_out,
                    int((time.time() - t_triples) * 1000), buckets,
                )

            # triples_base is read by nothing until materialize's
            # commit_union, so its write overlaps the link/canonicalize
            # chain (guide §2.6 back-fill, same pattern as save_records);
            # the "triples" ledger row still only commits once BOTH writes
            # are durable, so crash/resume semantics are unchanged. Serial
            # under stop_after, where commit order is part of the contract.
            if stop_after is None:
                triples_fut = background(_triples_base)
            else:
                _triples_base()
        if crashed("triples"):
            return self.metrics

        def _mentions():
            return tri.mentions_from_extractions(cat.read(spark, "extractions"))

        if "link" not in done:
            self._run_step(
                "link",
                lambda: lnk.link_entities(
                    _mentions(), cfg.jaccard_threshold, cfg.cosine_threshold,
                ),
                "alias_edges",
            )
        if crashed("link"):
            return self.metrics

        if "canonicalize" not in done:
            self._run_step(
                "canonicalize",
                lambda: czn.entity_map(
                    _mentions(), cat.read(spark, "alias_edges")
                ),
                "entity_map",
            )
        if crashed("canonicalize"):
            return self.metrics

        if triples_fut is not None:
            # materialize's commit_union reads the triples_base manifest —
            # join the overlapped write first
            triples_fut.result()

        if "materialize" not in done:
            def _materialize():
                from concurrent.futures import ThreadPoolExecutor

                emap = cat.read(spark, "entity_map")
                canonical = tri.entity_triples(
                    tri.patterns_from_extractions(cat.read(spark, "extractions")),
                    emap, cfg.execution_id,
                )
                nodes = czn.materialize_nodes(_mentions(), emap)
                # canonical-triples and nodes are independent jobs: submit
                # them concurrently so the per-job scheduling/codegen floor
                # overlaps instead of serializing (a real cluster's FAIR
                # scheduler does the same; shaves one job's latency from the
                # stage's serial floor)
                with ThreadPoolExecutor(max_workers=2) as pool:
                    f1 = pool.submit(cat.overwrite, canonical, "triples_canonical")
                    f2 = pool.submit(cat.overwrite, nodes, "nodes")
                    f1.result(), f2.result()
                # zero-copy union: `triples` snapshot points at the base +
                # canonical data files, nothing is rewritten
                tables.commit_union(
                    self.catalog, "triples", ["triples_base", "triples_canonical"]
                )
                return czn.materialize_edges(cat.read(spark, "triples_canonical"))

            self._run_step("materialize", _materialize, "edges")
        if crashed("materialize"):
            return self.metrics

        if save_fut is not None:
            # join the overlapped save_records before custom steps (which
            # may read the records table) and before returning
            save_fut.result()

        # Custom steps (the IPipelineStepHandler surface, SURVEY §2.10): a
        # stage is a named DataFrame -> DataFrame function over a catalog
        # table; output commits to a table of the step's name with the same
        # ledger/resume semantics as the built-in chain.
        for step_name, input_table, fn, fatal_cond, reason, key_col in (
            self.custom_steps
        ):
            if step_name not in done:
                def _input(t=input_table, cond=fatal_cond, step=step_name,
                           rsn=reason, kc=key_col):
                    df = cat.read(spark, t)
                    if cond is None:
                        return df
                    clean, fatal = qtn.split_fatal_rows(df, cond)
                    quarantined = qtn.quarantine_rows(
                        fatal, step, cfg.execution_id, rsn, key_col=kc
                    )
                    if not quarantined.isEmpty():
                        qtn.write_quarantine(cat, quarantined)
                    return clean

                self._run_step(
                    step_name,
                    lambda fn=fn, inp=_input: fn(inp()),
                    step_name,
                )
            if crashed(step_name):
                return self.metrics

        return self.metrics
