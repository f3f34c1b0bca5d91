"""Lifecycle guarantees around the pipeline's worker threads and the
session's one-time Python-worker prewarm."""

import threading
import types

import pytest

from kernel_memory_spark import session
from kernel_memory_spark.operators import embeddings as emb
from kernel_memory_spark.sources.tables import TableCatalog
from kernel_memory_spark.streaming.pipeline import Pipeline, PipelineConfig
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
