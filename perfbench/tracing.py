"""Spans around calls into km-spark's layers, recorded from the benchmark's
own files, and the per-layer metrics derived from them.

The traced run replaces public functions of the package with thin wrappers
(``Tracer.install``) for the lifetime of the run. A wrapper opens a span
(name, start, end, parent, thread, operation id); write and collect spans
also set a Spark job group, so the jobs they launch can be attributed to
them afterwards from the Spark event log. Operators return lazy DataFrames,
so an operator's own span is plan-build time and its execution lands in the
write or collect span that materializes it. Spans stay in memory and are
written out once, at the end of the run.
"""

from __future__ import annotations

import concurrent.futures
import inspect
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Callable, Dict, List, Optional

# table written -> pipeline step (the step ledger's names)
TABLE_STEP = {
    "corpus": "ingest", "doc_tags": "ingest", "extracted": "extract",
    "partitions": "partition", "embeddings": "gen_embeddings",
    "records": "save_records", "quarantine": "save_records",
    "extractions": "triples.extractions", "triples_base": "triples.base",
    "alias_edges": "link", "entity_map": "canonicalize",
    "triples_canonical": "materialize", "nodes": "materialize",
    "edges": "materialize", "triples": "materialize",
}
# operator entry point -> pipeline step
FUNC_STEP = {
    "extract.extract": "extract", "partition.partition": "partition",
    "embeddings.gen_embeddings": "gen_embeddings",
    "save_records.build_records": "save_records",
    "triples.extract_all_df": "triples.extractions",
    "triples.lineage_triples": "triples.base",
    "triples.mention_triples": "triples.base",
    "linking.link_entities": "link", "linking.candidate_pairs": "link",
    "linking.refresh_links_incremental": "link",
    "canonicalize.entity_map": "canonicalize",
    "canonicalize.connected_components": "canonicalize",
    "triples.entity_triples": "materialize",
    "canonicalize.materialize_nodes": "materialize",
    "canonicalize.materialize_edges": "materialize",
    "tables.commit_union": "materialize",
}
STEPS = ["ingest", "extract", "partition", "gen_embeddings", "save_records",
         "triples", "link", "canonicalize", "materialize"]
# scheduling constraints of Pipeline.run: data dependencies plus the main
# thread's program order (gen_embeddings runs before link on that thread)
STEP_DAG = {
    "ingest": [], "extract": ["ingest"], "partition": ["extract"],
    "gen_embeddings": ["partition"], "save_records": ["gen_embeddings"],
    "triples.extractions": ["partition"],
    "triples.base": ["triples.extractions"],
    "link": ["triples.extractions", "gen_embeddings"],
    "canonicalize": ["link"],
    "materialize": ["canonicalize", "triples.base"],
}
INGEST_TABLES = ["corpus", "doc_tags", "extracted", "partitions",
                 "embeddings", "records", "extractions", "triples_base"]
QUERY_OPS = ["knn", "ask", "hybrid", "fts"]
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "ArrowWindowPython", "ArrowAggregatePython")

# name -> unit; the order is the order of BENCHMARK.json's per_layer list
PER_LAYER: Dict[str, str] = {}
for _s in STEPS:
    PER_LAYER[f"pipeline.step_busy_s.{_s}"] = "s"
PER_LAYER.update({
    "pipeline.critical_path_s": "s", "pipeline.wall_s": "s",
    "pipeline.wait_s": "s", "pipeline.jobs": "count",
    "pipeline.stages": "count", "pipeline.tasks": "count",
    "extract.write_s": "s", "partition.write_s": "s",
    "partition.chunks": "count", "partition.python_eval_nodes": "count",
    "embeddings.write_s": "s", "embeddings.vectors": "count",
    "triples.extractions_write_s": "s", "triples.base_write_s": "s",
    "triples.rows": "count",
    "records.merge_s": "s", "records.buckets_rewritten": "count",
    "link.busy_s": "s", "link.jobs": "count", "link.candidate_pairs": "count",
    "link.alias_edges": "count", "link.pair_yield": "ratio",
    "canonicalize.busy_s": "s", "canonicalize.jobs": "count",
    "tables.write_calls": "count", "tables.write_s": "s",
    "tables.files_written": "count", "tables.bytes_written": "bytes",
    "tables.max_bucket_entries": "count",
})
for _t in INGEST_TABLES:
    PER_LAYER[f"ingest.merge_s.{_t}"] = "s"
PER_LAYER.update({
    "ingest.checkpoint_s": "s", "ingest.jobs_per_batch": "count",
    "refresh.link_s": "s", "refresh.canonicalize_s": "s",
    "refresh.materialize_s": "s",
})
for _o in QUERY_OPS:
    PER_LAYER[f"query.plan_ms.{_o}"] = "ms"
    PER_LAYER[f"query.exec_ms.{_o}"] = "ms"
    PER_LAYER[f"query.jobs.{_o}"] = "count"
    PER_LAYER[f"query.tasks.{_o}"] = "count"
PER_LAYER.update({
    "search_text.bm25_ms": "ms", "query.knn_ms": "ms", "ast.parse_ms": "ms",
    "graph.pagerank_jobs": "count", "graph.pagerank_tasks": "count",
    "graph.components_jobs": "count",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.pair_yield": "ratio", "dedup.jobs": "count",
    "spark.failed_tasks": "count", "spark.shuffle_bytes": "bytes",
    "trace.overhead_s": "s", "trace.spans": "count",
})


class Tracer:
    """In-memory span recorder plus the wrappers that feed it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: List[dict] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._op: Optional[dict] = None
        self._patches: List[tuple] = []
        # (span, label, counting function) run after the operation ends
        self._deferred: List[tuple] = []

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack, self._local.group = [], None
        return self._local.stack

    def _new_id(self) -> int:
        with self._lock:
            self._next_id += 1
            return self._next_id

    @contextmanager
    def span(self, name: str, layer: str, kind: str,
             table: Optional[str] = None, group: bool = False,
             step: Optional[str] = None):
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self._op
        rec = {
            "id": self._new_id(), "op": self._op["id"] if self._op else None,
            "name": name, "layer": layer, "kind": kind, "table": table,
            "step": step or TABLE_STEP.get(table) or FUNC_STEP.get(name),
            "parent": parent["id"] if parent else None,
            "thread": threading.current_thread().name, "group": None,
        }
        prev_group = self._local.group
        if group:
            rec["group"] = f"pb-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
            self._local.group = rec["group"]
        stack.append(rec)
        self.overhead_s += time.perf_counter() - t_in
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t_out = time.perf_counter()
            stack.pop()
            if group:
                if prev_group:
                    self.sc.setJobGroup(prev_group, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._local.group = prev_group
            with self._lock:
                self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t_out

    @contextmanager
    def operation(self, name: str, phase: str):
        """Root span of one benchmark operation; every span opened while it
        runs, on any thread, carries its id."""
        with self.span(name, "op", "op", group=True) as rec:
            rec["phase"] = phase
            rec["op"] = rec["id"]
            self._op = rec
            try:
                yield rec
            finally:
                self._op = None
        self._run_deferred()

    def _run_deferred(self) -> None:
        t0 = time.perf_counter()
        for rec, label, count in self._deferred:
            self.sc.setJobGroup("pb-deferred-count", label)
            try:
                rec[label] = count()
            finally:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._deferred.clear()
        self.overhead_s += time.perf_counter() - t0

    def collect(self, df, name: str) -> list:
        with self.span(name, "collect", "collect", group=True):
            return df.collect()

    # -- wrappers ----------------------------------------------------------

    def _patch(self, owner, attr: str, layer: str, kind: str,
               name: str, group: bool = False,
               after: Optional[Callable] = None) -> None:
        orig = getattr(owner, attr)
        sig = inspect.signature(orig)
        tracer = self

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            bound = sig.bind(*args, **kwargs).arguments
            table = bound.get("name") if kind in ("write", "compact") else None
            outer = kind in ("write", "compact") and not any(
                s["kind"] in ("write", "compact") for s in tracer._stack()
            )
            before = _manifest_paths(bound, table) if outer else None
            tracer.overhead_s += time.perf_counter() - t0
            with tracer.span(name, layer, kind, table, group) as rec:
                result = orig(*args, **kwargs)
            t1 = time.perf_counter()
            if outer:
                rec.update(_written(bound, table, before))
            if after is not None:
                after(tracer, rec, result)
            tracer.overhead_s += time.perf_counter() - t1
            return result

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self, dataframe_cls) -> None:
        from kernel_memory_spark.operators import (
            ask, canonicalize, dedup, embeddings, extract, graph, linking,
            partition, query, save_records, search_service, search_text,
            triples,
        )
        from kernel_memory_spark.plans import ast
        from kernel_memory_spark.sources import tables
        from kernel_memory_spark.streaming import ingest, pipeline

        cat = tables.TableCatalog
        for attr in ("overwrite", "merge", "merge_bucketed"):
            self._patch(cat, attr, "tables", "write", f"tables.{attr}", True)
        self._patch(cat, "compact", "tables", "compact", "tables.compact", True)
        self._patch(cat, "auto_compact", "tables", "check",
                    "tables.auto_compact")
        self._patch(tables, "commit_union", "tables", "meta",
                    "tables.commit_union")
        plan_fns = [
            (extract, "extract"), (partition, "partition"),
            (embeddings, "gen_embeddings"), (save_records, "build_records"),
            (triples, "extract_all_df"), (triples, "lineage_triples"),
            (triples, "mention_triples"), (triples, "entity_triples"),
            (linking, "link_entities"), (linking, "refresh_links_incremental"),
            (canonicalize, "entity_map"),
            (canonicalize, "connected_components"),
            (canonicalize, "materialize_nodes"),
            (canonicalize, "materialize_edges"),
            (search_service, "search_memories"),
            (search_service, "hybrid_search"), (search_service, "search"),
            (ask, "ask_facts"), (query, "knn_top_k"),
            (search_text, "bm25_topk"), (ast, "parse_query"),
            (graph, "pagerank"), (dedup, "minhash_dup_pairs"),
        ]
        for mod, attr in plan_fns:
            layer = mod.__name__.rsplit(".", 1)[-1]
            self._patch(mod, attr, layer, "plan", f"{layer}.{attr}")
        self._patch(linking, "candidate_pairs", "linking", "plan",
                    "linking.candidate_pairs",
                    after=_defer("rows", lambda df: df.count()))
        self._patch(dedup, "_drop_hot_buckets", "dedup", "plan",
                    "dedup._drop_hot_buckets",
                    after=_defer("rows", _count_band_pairs))
        self._patch(pipeline.Pipeline, "run", "pipeline", "plan",
                    "pipeline.Pipeline.run")
        self._patch(ingest, "ingest_batch", "ingest", "plan",
                    "ingest.ingest_batch")
        self._patch(ingest, "refresh_graph_incremental", "ingest", "plan",
                    "ingest.refresh_graph_incremental")
        self._patch(dataframe_cls, "localCheckpoint", "checkpoint",
                    "checkpoint", "dataframe.localCheckpoint", True)
        self._patch(concurrent.futures.Future, "result", "pipeline", "wait",
                    "future.result")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def write(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps({"header": header}) + "\n")
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, default=str) + "\n")


def _defer(label: str, count: Callable):
    def after(tracer: Tracer, rec: dict, df) -> None:
        tracer._deferred.append((rec, label, lambda: count(df)))
    return after


def _count_band_pairs(cool) -> int:
    """Candidate pairs the near-dup operator verifies: distinct id pairs
    that share a band after the hot-bucket cap."""
    from pyspark.sql import functions as F

    l, r = cool.alias("l"), cool.alias("r")
    return (
        l.join(r, F.col("l.band") == F.col("r.band"))
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id"), F.col("r.id")).distinct().count()
    )


def _catalog(bound: dict):
    return bound.get("self") or bound.get("catalog")


def _manifest_paths(bound: dict, table: Optional[str]) -> Optional[set]:
    cat = _catalog(bound)
    if cat is None or table is None or not cat.exists(table):
        return set()
    return {e["path"] for e in cat._entries(table)}


def _written(bound: dict, table: Optional[str], before: Optional[set]) -> dict:
    """Files, bytes and buckets a write added to the table's snapshot."""
    cat = _catalog(bound)
    if cat is None or table is None or not cat.exists(table):
        return {}
    new = [e for e in cat._entries(table) if e["path"] not in (before or set())]
    files = nbytes = 0
    for e in new:
        for dirpath, _dirs, names in os.walk(os.path.join(cat._dir(table), e["path"])):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, n))
    return {"files": files, "bytes": nbytes,
            "buckets": len({e.get("bucket") for e in new})}


# -- Spark event log ---------------------------------------------------------

def _event_lines(log_dir: str):
    """Lines of the single application's event log under `log_dir`, in
    order (a plain file, or the rolling layout's events_<n>_* files)."""
    files = []
    for dirpath, _dirs, names in os.walk(log_dir):
        for n in names:
            if n.startswith("events_") or not n.startswith(("appstatus", ".")):
                files.append(os.path.join(dirpath, n))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1])
               if os.path.basename(p).startswith("events_") else 0)
    for path in files:
        with open(path) as f:
            yield from f


def parse_event_log(log_dir: str) -> dict:
    """Jobs (group, submission time, stages, SQL execution), completed stages
    (tasks), failed tasks, shuffle bytes written and the final physical plan
    of every SQL execution."""
    jobs, stages, plans = {}, {}, {}
    failed = shuffle = 0
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": ev["Submission Time"] / 1000.0,
                "stages": ev["Stage IDs"],
                "sql": props.get("spark.sql.execution.id"),
            }
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]] = info["Number of Tasks"]
        elif kind == "SparkListenerTaskEnd":
            if ev["Task End Reason"]["Reason"] != "Success":
                failed += 1
            metrics = ev.get("Task Metrics") or {}
            shuffle += (metrics.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            plans[str(ev["executionId"])] = ev["sparkPlanInfo"]
    return {"jobs": jobs, "stages": stages, "plans": plans,
            "failed_tasks": failed, "shuffle_bytes": shuffle}


def _python_nodes(plan: dict) -> int:
    n = int(plan.get("nodeName", "") in PYTHON_NODES)
    return n + sum(_python_nodes(c) for c in plan.get("children", []))


# -- per-layer metrics -----------------------------------------------------------

def _busy(spans: List[dict]) -> float:
    """Length of the union of the spans' intervals."""
    total, end = 0.0, -1.0
    for s in sorted(spans, key=lambda s: s["start"]):
        if s["end"] > end:
            total += s["end"] - max(s["start"], end)
            end = s["end"]
    return total


def _median(values: List[float]) -> float:
    return statistics.median(values) if values else 0.0


class _Index:
    """Spans and jobs grouped by operation."""

    def __init__(self, spans: List[dict], events: dict):
        self.spans = spans
        self.ops = [s for s in spans if s["kind"] == "op"]
        self.by_op: Dict[int, List[dict]] = {}
        for s in spans:
            if s["kind"] != "op":
                self.by_op.setdefault(s["op"], []).append(s)
        self.span_of_group = {s["group"]: s for s in spans if s["group"]}
        self.events = events
        self.jobs_of_op: Dict[int, List[int]] = {}
        self.jobs_of_span: Dict[int, List[int]] = {}
        for jid, j in events["jobs"].items():
            owner = self.span_of_group.get(j["group"])
            if owner is not None:
                self.jobs_of_span.setdefault(owner["id"], []).append(jid)
                op = owner["op"]
            else:
                op = next((o["id"] for o in self.ops
                           if o["start"] <= j["submit"] <= o["end"]), None)
            if op is not None:
                self.jobs_of_op.setdefault(op, []).append(jid)

    def ops_named(self, name: str) -> List[dict]:
        return [o for o in self.ops if o["name"] == name]

    def counts(self, jobs: List[int]) -> dict:
        stage_ids = {s for j in jobs for s in self.events["jobs"][j]["stages"]
                     if s in self.events["stages"]}
        return {"jobs": len(jobs), "stages": len(stage_ids),
                "tasks": sum(self.events["stages"][s] for s in stage_ids)}

    def span_jobs(self, spans: List[dict]) -> List[int]:
        return [j for s in spans for j in self.jobs_of_span.get(s["id"], [])]

    def op_counts(self, op: dict) -> dict:
        return self.counts(self.jobs_of_op.get(op["id"], []))


def _outer(spans: List[dict], kinds=("write",)) -> List[dict]:
    ids = {s["id"] for s in spans if s["kind"] in kinds}
    by_id = {s["id"]: s for s in spans}

    def nested(s):
        p = by_id.get(s["parent"])
        while p is not None:
            if p["id"] in ids:
                return True
            p = by_id.get(p["parent"])
        return False

    return [s for s in spans if s["kind"] in kinds and not nested(s)]


def layer_metrics(spans: List[dict], events: dict, extra: dict) -> Dict[str, float]:
    """Every PER_LAYER metric; a layer the workload bypasses reads 0.
    `extra` carries values read from the catalog at the end of the run
    (table rows, max bucket entries)."""
    ix = _Index(spans, events)
    m = {name: 0.0 for name in PER_LAYER}

    builds = ix.ops_named("build")
    if builds:
        build = builds[0]
        bspans = ix.by_op.get(build["id"], [])
        step_spans: Dict[str, List[dict]] = {}
        for s in bspans:
            if s["step"] and s["kind"] in ("write", "plan", "meta"):
                step_spans.setdefault(s["step"], []).append(s)
        busy = {k: _busy(v) for k, v in step_spans.items()}
        for step in STEPS:
            parts = [v for k, v in step_spans.items() if k.split(".")[0] == step]
            m[f"pipeline.step_busy_s.{step}"] = _busy([s for p in parts for s in p])
        finish: Dict[str, float] = {}
        for node in STEP_DAG:  # insertion order is topological
            finish[node] = busy.get(node, 0.0) + max(
                (finish[d] for d in STEP_DAG[node]), default=0.0)
        m["pipeline.critical_path_s"] = max(finish.values())
        m["pipeline.wall_s"] = build["end"] - build["start"]
        main = build["thread"]
        m["pipeline.wait_s"] = _busy([s for s in bspans if s["kind"] == "wait"
                                      and s["thread"] == main])
        c = ix.op_counts(build)
        m["pipeline.jobs"], m["pipeline.stages"], m["pipeline.tasks"] = (
            c["jobs"], c["stages"], c["tasks"])
        writes = _outer(bspans)

        def write_s(table):
            return sum(s["end"] - s["start"] for s in writes if s["table"] == table)

        m["extract.write_s"] = write_s("extracted")
        m["partition.write_s"] = write_s("partitions")
        m["embeddings.write_s"] = write_s("embeddings")
        m["triples.extractions_write_s"] = write_s("extractions")
        m["triples.base_write_s"] = write_s("triples_base")
        m["records.merge_s"] = write_s("records")
        m["records.buckets_rewritten"] = sum(
            s.get("buckets", 0) for s in writes if s["table"] == "records")
        sql_ids = {events["jobs"][j]["sql"] for j in ix.span_jobs(
            [s for s in writes if s["table"] == "partitions"])} - {None}
        m["partition.python_eval_nodes"] = sum(
            _python_nodes(events["plans"][i]) for i in sql_ids
            if i in events["plans"])
        m["link.busy_s"] = m["pipeline.step_busy_s.link"]
        m["canonicalize.busy_s"] = m["pipeline.step_busy_s.canonicalize"]
        for step in ("link", "canonicalize"):
            m[f"{step}.jobs"] = len(ix.span_jobs(
                [s for s in bspans if s["step"] == step]))
        m["link.candidate_pairs"] = sum(
            s.get("rows", 0) for s in bspans
            if s["name"] == "linking.candidate_pairs")
        rows = extra.get("build_rows", {})
        m["partition.chunks"] = rows.get("partitions", 0)
        m["embeddings.vectors"] = rows.get("embeddings", 0)
        m["triples.rows"] = rows.get("triples", 0)
        m["link.alias_edges"] = rows.get("alias_edges", 0)
        if m["link.candidate_pairs"]:
            m["link.pair_yield"] = m["link.alias_edges"] / m["link.candidate_pairs"]

    # the rest measures the operations after the build
    later = [s for o in ix.ops if o["name"] != "build"
             for s in ix.by_op.get(o["id"], [])]
    writes = _outer(later, ("write", "compact"))
    plain = [s for s in writes if s["kind"] == "write"]
    m["tables.write_calls"] = len(plain)
    m["tables.write_s"] = sum(s["end"] - s["start"] for s in plain)
    m["tables.files_written"] = sum(s.get("files", 0) for s in writes)
    m["tables.bytes_written"] = sum(s.get("bytes", 0) for s in writes)
    m["tables.max_bucket_entries"] = extra.get("max_bucket_entries", 0)

    batches = ix.ops_named("stream.batch")
    if batches:
        n = len(batches)
        for t in INGEST_TABLES:
            m[f"ingest.merge_s.{t}"] = sum(
                s["end"] - s["start"] for b in batches
                for s in _outer(ix.by_op.get(b["id"], []))
                if s["table"] == t and s["name"] == "tables.merge_bucketed") / n
        m["ingest.checkpoint_s"] = sum(
            _busy([s for s in ix.by_op.get(b["id"], [])
                   if s["kind"] == "checkpoint"]) for b in batches) / n
        m["ingest.jobs_per_batch"] = sum(
            ix.op_counts(b)["jobs"] for b in batches) / n
    for r in ix.ops_named("stream.refresh"):
        rs = [s for s in ix.by_op.get(r["id"], [])
              if s["kind"] in ("write", "plan", "meta")]
        for step in ("link", "canonicalize", "materialize"):
            m[f"refresh.{step}_s"] = _busy([s for s in rs if s["step"] == step])

    for op in QUERY_OPS:
        runs = ix.ops_named(f"query.{op}")
        plan, exe, jobs, tasks = [], [], [], []
        for r in runs:
            ss = ix.by_op.get(r["id"], [])
            plan.append(sum(s["end"] - s["start"] for s in ss
                            if s["kind"] == "plan" and s["parent"] == r["id"]))
            exe.append(sum(s["end"] - s["start"] for s in ss
                           if s["kind"] == "collect"))
            c = ix.op_counts(r)
            jobs.append(c["jobs"])
            tasks.append(c["tasks"])
        m[f"query.plan_ms.{op}"] = 1000 * _median(plan)
        m[f"query.exec_ms.{op}"] = 1000 * _median(exe)
        m[f"query.jobs.{op}"] = _median(jobs)
        m[f"query.tasks.{op}"] = _median(tasks)
    for metric, op in (("search_text.bm25_ms", "leg.bm25"),
                       ("query.knn_ms", "leg.knn"), ("ast.parse_ms", "leg.parse")):
        m[metric] = 1000 * _median([o["end"] - o["start"] for o in ix.ops_named(op)])

    for o in ix.ops_named("graph.pagerank"):
        c = ix.op_counts(o)
        m["graph.pagerank_jobs"], m["graph.pagerank_tasks"] = c["jobs"], c["tasks"]
    for o in ix.ops_named("graph.components"):
        m["graph.components_jobs"] = ix.op_counts(o)["jobs"]
    for o in ix.ops_named("graph.near_dup"):
        ss = ix.by_op.get(o["id"], [])
        m["dedup.candidate_pairs"] = sum(
            s.get("rows", 0) for s in ss if s["name"] == "dedup._drop_hot_buckets")
        m["dedup.verified_pairs"] = o.get("rows", 0)
        m["dedup.jobs"] = ix.op_counts(o)["jobs"]
        if m["dedup.candidate_pairs"]:
            m["dedup.pair_yield"] = m["dedup.verified_pairs"] / m["dedup.candidate_pairs"]

    m["spark.failed_tasks"] = events["failed_tasks"]
    m["spark.shuffle_bytes"] = events["shuffle_bytes"]
    m["trace.spans"] = len(spans)
    return m
