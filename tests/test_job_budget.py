"""Job budgets: the Spark jobs of one small batch build, one micro-batch and
one incremental refresh, pinned the way tests/test_plans.py pins plan
shapes. Counts come from status-tracker job groups, which the step
scheduler's worker threads inherit; they do not move with host speed. A
change to any of them means a plan changed — re-pin only with the reason."""

import pytest

from pyspark.sql import functions as F

from kernel_memory_spark.sources.tables import TableCatalog
from kernel_memory_spark.streaming import ingest as si
from kernel_memory_spark.streaming.pipeline import Pipeline, PipelineConfig
from kernel_memory_spark.synth import synth_full

N_DOCS = 12
BASE_DOCS = 8


@pytest.fixture(scope="module")
def job_counts(spark, tmp_path_factory, jobs_of):
    full = synth_full(spark, N_DOCS).select("doc_id", "spans", "tags")
    cut = f"doc-{BASE_DOCS - 1:09d}"
    base = full.filter(F.col("doc_id") <= cut)
    # the micro-batch: four new documents plus one re-delivered
    batch = full.filter(
        (F.col("doc_id") > cut) | (F.col("doc_id") == "doc-000000000")
    )
    cat = TableCatalog(str(tmp_path_factory.mktemp("budget")))
    cfg = PipelineConfig(execution_id="budget", records_buckets=4)
    return {
        "build": jobs_of(lambda: Pipeline(spark, cat, cfg).run(
            base.select("doc_id", "spans"), base.select("doc_id", "tags"))),
        "batch": jobs_of(lambda: si.ingest_batch(
            spark, cat, batch, cfg, "budget-b0")),
        "refresh": jobs_of(lambda: si.refresh_graph_incremental(
            spark, cat, cfg)),
    }


class TestJobBudget:
    def test_build(self, job_counts):
        assert job_counts["build"] == 47

    def test_micro_batch(self, job_counts):
        assert job_counts["batch"] == 52

    def test_refresh(self, job_counts):
        assert job_counts["refresh"] == 36
