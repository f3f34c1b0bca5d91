"""The benchmark's workloads. Each drives km-spark through public functions
only, from one closed-loop client, and returns its timings, its counts and
the results its correctness checks need.

- ``stream_ingest``: batch-build a base catalog (``Pipeline.run``), then
  back-to-back ``ingest_batch`` micro-batches (10% re-delivered documents)
  and one ``refresh_graph_incremental``.
- ``query_mix``: batch-build a catalog, then rounds of queries over
  ``records`` (``search_memories``, ``ask_facts``, ``hybrid_search`` and a
  boolean ``search``); traced runs then add a KG analytics pass over the
  built graph (``graph.pagerank``, ``canonicalize.connected_components``,
  ``dedup.minhash_dup_pairs``) for its per-layer counts.

How much a run does is a function of ``--seconds`` alone, never of how fast
the host happens to be, so every run of one setting does the same work.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

from pyspark.sql import functions as F

from kernel_memory_spark import oracle
from kernel_memory_spark.functions.vectors import hash_embed
from kernel_memory_spark.operators import (
    ask, canonicalize, dedup, graph, query, search_service, search_text,
)
from kernel_memory_spark.plans import ast
from kernel_memory_spark.sources import tables
from kernel_memory_spark.sources.tables import TableCatalog
from kernel_memory_spark.streaming import ingest
from kernel_memory_spark.streaming.pipeline import Pipeline, PipelineConfig

import checks
import inputs as inp

# PipelineConfig's default: auto_compact fires after more than 8 merges
# into a table, which a run's few micro-batches never reach
COMPACT_THRESHOLD = 8
# one hash bucket per core of local[4]
RECORDS_BUCKETS = 4
# Sizing, from runs on a shared 4-core host. stream_ingest: a micro-batch
# takes 7-11 s and the closing refresh about 10 s, so a run does one
# micro-batch per 13 s of --seconds, and at least three; the first pays the
# JVM's code warm-up and is left out of the median. query_mix: a query
# keeps getting faster over its first few calls in a JVM, so three untimed
# warm-up rounds come first, then one timed round (4-5 s) per 7 s of
# --seconds, and at least three.
BATCH_NOMINAL_S = 13.0
MIN_BATCHES = 3
WARMUP_BATCHES = 1
WARMUP_ROUNDS = 3
ROUND_NOMINAL_S = 7.0
MIN_TIMED_ROUNDS = 3
KNN_K = 10
HYBRID_K = 10
FTS_LIMIT = 10
NEAR_DUP_THRESHOLD = 0.8
# near-dup input: the partitions whose id hashes to 0 mod 4, plus planted
# near-duplicates, whose ids carry this suffix
NEAR_DUP_SAMPLE_MOD = 4
PLANTED_SUFFIX = "~near"


def n_batches(seconds: float) -> int:
    return min(inp.MAX_BATCHES,
               max(MIN_BATCHES, math.floor(seconds / BATCH_NOMINAL_S)))


def n_timed_rounds(seconds: float) -> int:
    return min(inp.QUESTIONS - WARMUP_ROUNDS,
               max(MIN_TIMED_ROUNDS, math.floor(seconds / ROUND_NOMINAL_S)))


@dataclass
class Run:
    spark: object
    work: str
    inputs: inp.Inputs
    seconds: float
    tracer: Optional[object] = None
    attempted: int = 0
    failed: int = 0
    errors: List[str] = field(default_factory=list)
    ops: List[dict] = field(default_factory=list)
    problems: List[str] = field(default_factory=list)
    timings: Dict[str, float] = field(default_factory=dict)
    extra: Dict[str, object] = field(default_factory=dict)
    on_timed_end: Optional[Callable[[], None]] = None
    _seen_jobs: set = field(default_factory=set)

    def collect(self, df, name: str) -> list:
        if self.tracer is not None:
            return self.tracer.collect(df, name)
        return df.collect()

    def op(self, name: str, phase: str, fn: Callable):
        """Time one operation; a failure is counted, never raised."""
        if self.tracer is None:
            # jobs launched between operations belong to none of them
            self._seen_jobs.update(
                self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))
        self.attempted += 1
        t0 = time.perf_counter()
        result, ok = None, True
        try:
            if self.tracer is not None:
                with self.tracer.operation(name, phase) as rec:
                    result = fn()
                    if isinstance(result, list):
                        rec["rows"] = len(result)
            else:
                result = fn()
        except Exception as e:  # a failed operation is reported, not fatal
            ok = False
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:500])
        dt = time.perf_counter() - t0
        rec = {"name": name, "phase": phase, "s": dt, "ok": ok}
        if self.tracer is None:
            rec.update(self._job_counts())
        self.ops.append(rec)
        return result, (dt if ok else math.inf), ok

    def _job_counts(self) -> dict:
        """Jobs, stages and tasks launched since the previous operation,
        from the status tracker (one client, so they are all this op's)."""
        st = self.spark.sparkContext.statusTracker()
        new = sorted(set(st.getJobIdsForGroup(None)) - self._seen_jobs)
        self._seen_jobs.update(new)
        deadline = time.time() + 5
        stage_ids = set()
        for j in new:
            info = st.getJobInfo(j)
            while info is not None and info.status in ("RUNNING", "UNKNOWN") \
                    and time.time() < deadline:
                time.sleep(0.01)
                info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        tasks = stages = 0
        for s in stage_ids:
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
        return {"jobs": len(new), "stages": stages, "tasks": tasks}


def _median(xs: List[float]) -> float:
    return statistics.median(xs) if xs else math.inf


def _config(execution_id: str) -> PipelineConfig:
    return PipelineConfig(execution_id=execution_id,
                          records_buckets=RECORDS_BUCKETS,
                          compact_threshold=COMPACT_THRESHOLD)


def _build(run: Run) -> TableCatalog:
    """Batch KG build of the base corpus into a fresh catalog."""
    spark = run.spark
    catalog = TableCatalog(os.path.join(run.work, "catalog"))
    full = spark.read.parquet(run.inputs.base_path)
    pipe = Pipeline(spark, catalog, _config("base"))
    _, dt, ok = run.op("build", "build", lambda: pipe.run(
        full.select("doc_id", "spans"), full.select("doc_id", "tags")))
    if not ok:
        raise RuntimeError("batch build failed: " + run.errors[-1])
    run.timings["build_s"] = dt
    run.extra["build_rows"] = table_rows(catalog)
    return catalog


def table_rows(catalog: TableCatalog) -> Dict[str, int]:
    return {t: tables.table_row_count(catalog, t)
            for t in sorted(os.listdir(catalog.root)) if catalog.exists(t)}


def live_bytes(catalog: TableCatalog) -> int:
    """Bytes of the parquet files the current snapshots reference."""
    files = set()
    for t in os.listdir(catalog.root):
        if not catalog.exists(t):
            continue
        for e in catalog._entries(t):
            d = os.path.realpath(os.path.join(catalog._dir(t), e["path"]))
            for dirpath, _dirs, names in os.walk(d):
                files.update(os.path.join(dirpath, n) for n in names
                             if n.endswith(".parquet"))
    return sum(os.path.getsize(f) for f in files)


def _triples(run: Run, catalog: TableCatalog) -> set:
    rows = catalog.read(run.spark, "triples").select(
        "subj", "pred", "obj", "doc_id").collect()
    return {tuple(r) for r in rows}


# -- stream_ingest -------------------------------------------------------------

def stream_ingest(run: Run) -> None:
    spark, data = run.spark, run.inputs
    catalog = _build(run)
    cfg = _config("stream")
    n = n_batches(run.seconds)
    batch_s = []
    t_loop = time.perf_counter()
    for b in range(n):
        df = spark.read.parquet(data.batch_paths[b])
        _, dt, _ = run.op("stream.batch", "loop", lambda: ingest.ingest_batch(
            spark, catalog, df, cfg, f"stream-b{b:02d}"))
        batch_s.append(dt)
    max_entries = max(catalog.max_entries_per_bucket(t)
                      for t in ingest._STREAM_TABLES if catalog.exists(t))
    _, refresh_s, _ = run.op("stream.refresh", "pass", lambda:
                             ingest.refresh_graph_incremental(
                                 spark, catalog, cfg, execution_id="refresh"))
    loop_s = time.perf_counter() - t_loop
    run.on_timed_end()

    delivered = data.batches[:n]
    input_bytes = data.input_bytes["base"] + sum(
        data.input_bytes[f"batch-{b:02d}"] for b in range(n))
    run.timings.update({
        "stream_batch_p50_s": _median(batch_s[WARMUP_BATCHES:]),
        "refresh_s": refresh_s,
        "stream_docs_per_s": sum(len(b) for b in delivered) / loop_s,
        "batches": n,
    })
    run.extra["stored_bytes_ratio"] = live_bytes(catalog) / input_bytes
    run.extra["rows"] = table_rows(catalog)
    run.extra["max_bucket_entries"] = max_entries

    # checks: the final catalog against the oracle over every delivered doc
    docs = {d["doc_id"]: d for d in data.base_docs}
    for batch in delivered:
        docs.update({d["doc_id"]: d for d in batch})
    run.problems += checks.check_triples(
        _triples(run, catalog), oracle.oracle_triples(list(docs.values())),
        "stream_ingest")
    recs = catalog.read(spark, "records").select(
        "id", "doc_id", "execution_id").collect()
    run.problems += checks.check_records([tuple(r) for r in recs], set(docs))


def _edges(triples):
    """The KG as an undirected-graph edge list: subject -- object."""
    return triples.select(F.col("subj").alias("src"), F.col("obj").alias("dst")) \
        .filter(F.col("src") != F.col("dst")).distinct()


# -- query_mix -----------------------------------------------------------------

def _vector(text: str) -> List[float]:
    return [float(x) for x in hash_embed(text)]


def query_mix(run: Run) -> None:
    spark, data = run.spark, run.inputs
    catalog = _build(run)
    records = catalog.read(spark, "records")
    node = records.select("id", F.col("payload.text").alias("content"))
    tr = run.tracer

    # a round asks one question: a KNN search, an ask, a hybrid and a
    # boolean search. The warm-up rounds' answers are checked, their
    # latencies are not in the medians.
    answers, timed = [], {}
    rounds = WARMUP_ROUNDS + n_timed_rounds(run.seconds)
    for r, q in enumerate(data.questions[:rounds]):
        v = _vector(q.text)
        request = search_service.SearchRequest(
            query=q.fts_query, min_relevance=0.0, limit=FTS_LIMIT)
        ops = {
            "knn": lambda: run.collect(search_service.search_memories(
                records, v, limit=KNN_K), "collect.knn"),
            "ask": lambda: run.collect(ask.ask_facts(records, v, q.text),
                                       "collect.ask"),
            "hybrid": lambda: run.collect(search_service.hybrid_search(
                records, q.text, v, k=HYBRID_K), "collect.hybrid"),
            "fts": lambda: run.collect(search_service.search(
                spark, {"records": node}, request), "collect.fts"),
        }
        for name, fn in ops.items():
            got, dt, _ = run.op(f"query.{name}", "loop", fn)
            answers.append((name, q, v, got))
            if r >= WARMUP_ROUNDS:
                timed.setdefault(name, []).append(dt)
        if tr is not None:
            # each leg alone, so its share of a query shows by itself
            terms = q.text.lower().split()
            run.op("leg.bm25", "leg", lambda: run.collect(
                search_text.bm25_topk(records.withColumn(
                    "__t", F.col("payload.text")), terms, k=1000,
                    id_col="id", text_col="__t"), "collect.bm25"))
            run.op("leg.knn", "leg", lambda: run.collect(
                query.knn_top_k(records, v, k=KNN_K), "collect.knn_leg"))
            run.op("leg.parse", "leg", lambda: ast.parse_query(q.fts_query))

    analytics = _analytics(run, catalog) if tr is not None else None
    run.on_timed_end()

    run.timings.update({
        **{f"{k}_p50_s": _median(v) for k, v in timed.items()},
        "rounds": rounds,
    })
    run.extra["stored_bytes_ratio"] = (
        live_bytes(catalog) / data.input_bytes["base"])
    run.extra["rows"] = table_rows(catalog)
    run.extra["max_bucket_entries"] = 0

    # checks
    run.problems += checks.check_triples(
        _triples(run, catalog), oracle.oracle_triples(data.base_docs),
        "batch_build")
    _check_queries(run, records, answers)
    if analytics is not None and not run.failed:
        _check_analytics(run, *analytics)


def _analytics(run: Run, catalog: TableCatalog) -> tuple:
    """KG analytics over the built graph, and near-duplicate partitions:
    one call each. Runs in traced runs only: the time budget of the
    untraced runs has no room for it, and its layers report counts, which
    need no untraced twin. Returns what its checks need."""
    spark = run.spark
    edges = _edges(catalog.read(spark, "triples"))
    ranks, pr_s, _ = run.op("graph.pagerank", "pass", lambda: graph.pagerank(
        graph.symmetrize(edges), iterations=checks.PAGERANK_ITERATIONS).collect())
    labels, cc_s, _ = run.op("graph.components", "pass", lambda:
                             canonicalize.connected_components(edges.select(
                                 F.col("src").alias("a"),
                                 F.col("dst").alias("b"))).collect())
    sample = catalog.read(spark, "partitions").select(
        F.col("partition_id").alias("doc_id"), "text").filter(
        F.pmod(F.crc32("partition_id"), F.lit(NEAR_DUP_SAMPLE_MOD)) == 0)
    # the corpus holds few near-duplicate partitions, so plant some: a copy
    # of every fourth sampled partition with its last word dropped
    planted = sample.filter(F.pmod(F.crc32("doc_id"), F.lit(4)) == 0).select(
        F.concat("doc_id", F.lit(PLANTED_SUFFIX)).alias("doc_id"),
        F.regexp_replace("text", r"\s*\S+\s*$", "").alias("text"))
    parts = sample.unionByName(planted)
    pairs, nd_s, _ = run.op("graph.near_dup", "pass", lambda:
                            dedup.minhash_dup_pairs(
                                parts, threshold=NEAR_DUP_THRESHOLD).collect())
    run.timings.update({"pagerank_s": pr_s, "components_s": cc_s,
                        "near_dup_s": nd_s})
    return edges, ranks, labels, parts, pairs


def _check_analytics(run: Run, edges, ranks, labels, parts, pairs) -> None:
    edge_rows = [tuple(e) for e in edges.collect()]
    run.problems += checks.check_components(
        {r["norm"]: r["component"] for r in labels}, edge_rows)
    sym = {(a, b) for a, b in edge_rows} | {(b, a) for a, b in edge_rows}
    run.problems += checks.check_pagerank(
        {r["node"]: r["rank"] for r in ranks}, sorted(sym))
    texts = {r["doc_id"]: r["text"] for r in parts.collect()}
    found = [(p["a"], p["b"], p["jaccard"]) for p in pairs]
    run.problems += checks.check_near_dups(found, texts, NEAR_DUP_THRESHOLD)
    run.problems += checks.check_near_dup_recall(
        found, texts, [(d[:-len(PLANTED_SUFFIX)], d) for d in texts
                       if d.endswith(PLANTED_SUFFIX)])
    run.timings["near_dup_pairs"] = len(pairs)


def _check_queries(run: Run, records, answers) -> None:
    import numpy as np

    rows = records.select("id", "vector", F.col("payload.text").alias("t")) \
        .collect()
    ids = [r["id"] for r in rows]
    texts = [r["t"] or "" for r in rows]
    text_of = dict(zip(ids, texts))
    vectors = np.array([r["vector"] for r in rows], dtype=np.float32)
    bm25 = checks.BM25(text_of)
    for name, q, v, got in answers:
        if got is None:
            continue  # already counted as a failed operation
        label = f"{name} {q.text!r}"
        if name == "knn":
            knn = sorted(((p["text"], p["relevance"]) for c in got
                          for p in c["partitions"]), key=lambda kv: -kv[1])
            run.problems += checks.ranked_match(
                checks.significant(knn),
                checks.expected_knn(ids, texts, vectors, v, KNN_K),
                label, k=KNN_K)
        elif name == "ask":
            facts = [(text_of[r["id"]].strip(), r["relevance"]) for r in got]
            run.problems += checks.ranked_match(
                checks.significant(facts),
                checks.expected_ask(ids, texts, vectors, v,
                                    ask.DEFAULT_MAX_MATCHES), label)
        elif name == "hybrid":
            run.problems += checks.ranked_match(
                [(r["record_id"], r["relevance"]) for r in got],
                checks.expected_hybrid(bm25, ids, vectors, q.text, v),
                label, k=HYBRID_K)
        else:
            run.problems += checks.ranked_match(
                [(r["record_id"], r["relevance"]) for r in got],
                checks.expected_fts(bm25, text_of, q.subj, q.pred.split()[0],
                                    q.obj),
                f"fts {q.fts_query!r}", k=FTS_LIMIT)


WORKLOADS = {"stream_ingest": stream_ingest, "query_mix": query_mix}
