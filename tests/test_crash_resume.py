"""Crash every KG step on the overlapped schedule, then resume: each table
ends hash-identical (sorted rows) to an uninterrupted run. The crash is an
exception raised inside the step's operator while the other rows of the
step table keep running."""

import hashlib
import os

import pytest

from pyspark.sql import functions as F

from kernel_memory_spark.operators import (
    canonicalize as czn,
    embeddings as emb,
    extract as ext,
    linking as lnk,
    partition as prt,
    save_records as sav,
    triples as tri,
)
from kernel_memory_spark.sources.tables import TableCatalog
from kernel_memory_spark.streaming.pipeline import (
    LEDGER, Pipeline, PipelineConfig,
)
from kernel_memory_spark.synth import synth_full

N_DOCS = 6


class Crash(RuntimeError):
    pass


def _raise(*_args, **_kwargs):
    raise Crash("injected")


def _crash_doc_tags_write(real):
    def overwrite(self, df, name, *args, **kwargs):
        if name == "doc_tags":
            raise Crash("injected")
        return real(self, df, name, *args, **kwargs)
    return overwrite


# step -> (owner, operator) the crash raises in. The ingest step has no
# operator but its writes; it crashes in the doc_tags write while the
# corpus write runs alongside.
CRASH_POINTS = {
    "ingest": (TableCatalog, "overwrite"),
    "extract": (ext, "extract"),
    "partition": (prt, "partition"),
    "gen_embeddings": (emb, "gen_embeddings"),
    "save_records": (sav, "build_records"),
    "triples": (tri, "lineage_triples"),
    "link": (lnk, "link_entities"),
    "canonicalize": (czn, "entity_map"),
    "materialize": (czn, "materialize_nodes"),
}


def inputs(spark):
    """Synth documents, one with an invalid tag key, so the records step
    also quarantines."""
    full = synth_full(spark, N_DOCS).select("doc_id", "spans", "tags")
    full = full.withColumn("tags", F.when(
        F.col("doc_id") == "doc-000000001",
        F.map_concat("tags", F.create_map(F.lit("bad:key"),
                                          F.array(F.lit("v")))),
    ).otherwise(F.col("tags")))
    return full.select("doc_id", "spans"), full.select("doc_id", "tags")


def digests(spark, cat):
    """Table -> sha256 of its sorted rows, for every table but the ledger."""
    out = {}
    for name in sorted(os.listdir(cat.root)):
        if name == LEDGER or not cat.exists(name):
            continue
        rows = sorted(repr(tuple(r)) for r in cat.read(spark, name).collect())
        out[name] = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return out


@pytest.fixture(scope="module")
def straight(spark, tmp_path_factory):
    corpus, tags = inputs(spark)
    cat = TableCatalog(str(tmp_path_factory.mktemp("straight")))
    Pipeline(spark, cat, PipelineConfig(execution_id="e")).run(corpus, tags)
    return digests(spark, cat)


@pytest.mark.parametrize("step", list(CRASH_POINTS))
def test_crash_then_resume_matches_straight_run(
    spark, tmp_path, monkeypatch, straight, step
):
    corpus, tags = inputs(spark)
    cat = TableCatalog(str(tmp_path / "cat"))
    owner, attr = CRASH_POINTS[step]
    real = getattr(owner, attr)
    monkeypatch.setattr(
        owner, attr,
        _crash_doc_tags_write(real) if step == "ingest" else _raise,
    )
    with pytest.raises(Crash):
        Pipeline(spark, cat, PipelineConfig(execution_id="e")).run(
            corpus, tags
        )
    monkeypatch.setattr(owner, attr, real)

    resumed = Pipeline(spark, cat, PipelineConfig(execution_id="e"))
    assert step not in resumed._completed_steps()
    metrics = resumed.run(corpus, tags, resume=True)
    assert step in metrics
    assert digests(spark, cat) == straight
