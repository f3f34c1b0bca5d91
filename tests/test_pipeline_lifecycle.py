"""Lifecycle guarantees around the pipeline's worker threads and the
session's one-time Python-worker prewarm."""

import random
import sys
import threading
import time
import types

import pytest

from kernel_memory_spark import session
from kernel_memory_spark.operators import embeddings as emb
from kernel_memory_spark.sources.tables import TableCatalog
from kernel_memory_spark.streaming import pipeline
from kernel_memory_spark.streaming.pipeline import (
    Pipeline, PipelineConfig, Row, run_steps,
)
from kernel_memory_spark.synth import synth_full


def _pool_threads():
    return {
        t for t in threading.enumerate()
        if t.name.startswith("ThreadPoolExecutor") and t.is_alive()
    }


class TestPipelineFailure:
    def test_failed_step_leaves_no_writer_behind(
        self, spark, tmp_path, monkeypatch
    ):
        """gen_embeddings fails while the extractions write runs on a worker
        thread: run() raises only once that write has finished (or was
        cancelled before it started), so no thread is left to commit into
        a table a retried run also writes."""
        full = synth_full(spark, 4).select("doc_id", "spans", "tags")
        cat = TableCatalog(str(tmp_path / "cat"))

        def boom(*_args, **_kwargs):
            raise RuntimeError("embedding endpoint down")

        monkeypatch.setattr(emb, "gen_embeddings", boom)
        before = _pool_threads()
        with pytest.raises(RuntimeError, match="endpoint down"):
            Pipeline(spark, cat, PipelineConfig(execution_id="e1")).run(
                full.select("doc_id", "spans"), full.select("doc_id", "tags")
            )
        assert not _pool_threads() - before


class TestRunSteps:
    """The scheduler alone, over rows that launch no Spark job."""

    def test_stress_wide_table(self, spark):
        """96 rows in three layers, each row reading two of the layer
        before, under a short switch interval: every row runs once and only
        after the tables it reads were written, and every step commits once,
        after all of its rows."""
        width, log_lock = 32, threading.Lock()
        began, written, commits = {}, {}, []

        def fn(name):
            def run(get):
                with log_lock:
                    began[name] = began.get(name, []) + [time.monotonic()]
                time.sleep(random.random() / 200)
                return name
            return run

        def write(name, value):
            with log_lock:
                written[name] = time.monotonic()
            return value

        def commit(step, _start):
            with log_lock:
                commits.append((step, time.monotonic()))

        rows = [Row("s0", (), f"a{i}", fn(f"a{i}")) for i in range(width)]
        for layer, prev in (("s1", "a"), ("s2", "b")):
            cur = "b" if prev == "a" else "c"
            rows += [Row(layer, (f"{prev}{i}", f"{prev}{(i + 1) % width}"),
                         f"{cur}{i}", fn(f"{cur}{i}")) for i in range(width)]
        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            t = threading.Thread(target=run_steps, args=(
                spark, rows, write, lambda name: None, commit))
            t.start()
            t.join(timeout=60)
        finally:
            sys.setswitchinterval(old)
        assert not t.is_alive()
        assert all(len(began[r.writes]) == 1 for r in rows)
        for r in rows:
            assert all(written[t] < began[r.writes][0] for t in r.reads)
        assert sorted(s for s, _ in commits) == ["s0", "s1", "s2"]
        for step, at in commits:
            assert all(written[r.writes] <= at for r in rows if r.step == step)

    def test_failed_row_joins_the_others_and_starts_nothing(self, spark):
        done = []

        def fail(get):
            raise ValueError("boom")

        def slow(get):
            time.sleep(0.3)
            done.append("slow")

        rows = [Row("x", (), "a", fail), Row("y", (), "b", slow),
                Row("z", ("a",), "c", lambda get: done.append("after"))]
        before = _pool_threads()
        with pytest.raises(ValueError, match="boom"):
            run_steps(spark, rows, lambda n, v: v, lambda n: None)
        assert done == ["slow"]
        assert not _pool_threads() - before

    def test_base_exception_row_is_raised_not_hung(self, spark):
        """A row that raises outside Exception (SystemExit here) still
        leaves the running set, and the caller gets the raise."""
        def leave(get):
            raise SystemExit(3)

        got = []

        def call():
            try:
                run_steps(spark, [Row("x", (), "a", leave),
                                  Row("y", ("a",), "b", got.append)],
                          lambda n, v: v, lambda n: None)
            except SystemExit as e:
                got.append(e.code)

        t = threading.Thread(target=call, daemon=True)
        t.start()
        t.join(timeout=30)
        assert not t.is_alive()
        assert got == [3]

    def test_pinned_threads_off(self, spark, monkeypatch):
        """With pinned-thread mode off, pyspark's inheritable_thread_target
        hands the session back unchanged; rows then run unwrapped."""
        monkeypatch.setattr(pipeline, "inheritable_thread_target",
                            lambda f=None: f)
        ran = []
        rows = [Row("x", (), "a", lambda get: ran.append("a") or "a"),
                Row("y", ("a",), "b", lambda get: ran.append(get("a")))]
        run_steps(spark, rows, lambda n, v: v, lambda n: None)
        assert ran == ["a", "a"]


class TestStepWalls:
    SLEEP_S = 6

    def test_triples_wall_excludes_a_slow_embedding_step(
        self, spark, tmp_path, monkeypatch
    ):
        """Each ledger step stamps its own start: gen_embeddings slowed by
        a fixed sleep does not show in the wall of the triples step, which
        runs alongside it."""
        full = synth_full(spark, 4).select("doc_id", "spans", "tags")
        real = emb.gen_embeddings

        def slow(*args, **kwargs):
            time.sleep(self.SLEEP_S)
            return real(*args, **kwargs)

        monkeypatch.setattr(emb, "gen_embeddings", slow)
        cat = TableCatalog(str(tmp_path / "cat"))
        metrics = Pipeline(spark, cat, PipelineConfig(execution_id="e1")).run(
            full.select("doc_id", "spans"), full.select("doc_id", "tags")
        )
        assert metrics["gen_embeddings"]["wall_ms"] >= self.SLEEP_S * 1000
        assert metrics["triples"]["wall_ms"] < self.SLEEP_S * 1000


class _FakeSession:
    """Just enough of a SparkSession for _prewarm_python_workers: counts
    prewarm jobs instead of running them."""

    def __init__(self, app_id, jobs):
        self.sparkContext = types.SimpleNamespace(
            applicationId=app_id, defaultParallelism=1
        )
        self._jobs = jobs

    def range(self, *_args, **_kwargs):
        self._jobs.append(self.sparkContext.applicationId)
        raise RuntimeError("no executors in a fake session")


class TestPrewarm:
    def test_new_session_after_stopped_one_is_prewarmed(self, monkeypatch):
        monkeypatch.setattr(session, "_PREWARMED", set())
        jobs = []
        first = _FakeSession("app-1", jobs)
        session._prewarm_python_workers(first)
        session._prewarm_python_workers(first)  # same session: once only
        del first
        # a fresh session may reuse the stopped one's id(); its
        # application id is new
        session._prewarm_python_workers(_FakeSession("app-2", jobs))
        assert jobs == ["app-1", "app-2"]
