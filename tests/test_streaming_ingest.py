"""Structured-Streaming ingestion: exactly-once micro-batch merges +
periodic global refine, converging to the batch pipeline's output.

The streaming shape is the DistributedPipelineOrchestrator analog (queue
message = document batch); these tests assert the three contracts that
matter: file-source exactly-once across restarts, doc-replacement on
re-delivery, and refresh_graph parity with the batch Pipeline over the
same corpus.
"""

import glob
import os
import shutil

import pytest

from pyspark.sql import functions as F

from kernel_memory_spark.sources.tables import TableCatalog
from kernel_memory_spark.streaming import ingest as si
from kernel_memory_spark.streaming.pipeline import Pipeline, PipelineConfig
from kernel_memory_spark.synth import synth_full

N_DOCS = 8


def drop_file(df, source_dir, name):
    """Materialize df as one parquet file inside the streaming source dir
    (simulates a new arrival)."""
    tmp = os.path.join(os.path.dirname(source_dir.rstrip("/")), f"_tmp_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(tmp + "/part-*.parquet")[0]
    os.makedirs(source_dir, exist_ok=True)
    shutil.move(part, os.path.join(source_dir, f"{name}.parquet"))
    shutil.rmtree(tmp, ignore_errors=True)


@pytest.fixture()
def batches(spark):
    full = synth_full(spark, N_DOCS).select("doc_id", "spans", "tags")
    first = full.filter(F.col("doc_id") <= "doc-000000003")
    second = full.filter(F.col("doc_id") > "doc-000000003")
    return full, first, second


def run_stream(spark, catalog, source_dir):
    q = si.stream_ingest(spark, catalog, source_dir)
    q.awaitTermination()


class TestStreamingIngest:
    def test_incremental_batches_accumulate(self, spark, tmp_path, batches):
        full, first, second = batches
        src = str(tmp_path / "incoming")
        cat = TableCatalog(str(tmp_path / "cat"))

        drop_file(first, src, "arrival1")
        run_stream(spark, cat, src)
        assert cat.read(spark, "corpus").count() == 4
        n_records_1 = cat.read(spark, "records").count()
        assert n_records_1 > 0

        drop_file(second, src, "arrival2")
        run_stream(spark, cat, src)  # same checkpoint: only the new file
        assert cat.read(spark, "corpus").count() == N_DOCS
        got_docs = {
            r.doc_id for r in
            cat.read(spark, "records").select("doc_id").distinct().collect()
        }
        assert got_docs == {r.doc_id for r in full.select("doc_id").collect()}
        # triples carry both batches' docs
        tb_docs = cat.read(spark, "triples_base").select("doc_id").distinct()
        assert tb_docs.count() == N_DOCS
        # ledger has one stream_batch row per processed micro-batch
        ledger = cat.read(spark, "step_ledger").filter(
            F.col("step") == "stream_batch"
        )
        assert ledger.count() == 2

    def test_redelivery_replaces_not_duplicates(self, spark, tmp_path, batches):
        full, first, _second = batches
        src = str(tmp_path / "incoming")
        cat = TableCatalog(str(tmp_path / "cat"))

        drop_file(first, src, "arrival1")
        run_stream(spark, cat, src)
        before = {
            t: cat.read(spark, t).count()
            for t in ("corpus", "records", "partitions", "triples_base")
        }
        # the SAME docs arrive again as a new file (at-least-once upstream)
        drop_file(first, src, "arrival1-redelivered")
        run_stream(spark, cat, src)
        after = {
            t: cat.read(spark, t).count()
            for t in ("corpus", "records", "partitions", "triples_base")
        }
        assert after == before  # doc-scoped replacement, no duplicates

    def test_poisoned_tags_parity_with_batch(self, spark, tmp_path, batches):
        """Quarantine routing must match the batch pipeline exactly: user
        tags stripped from the poisoned doc's RECORDS, but the tag-lineage
        triples (derived from the stored doc_tags table) unchanged."""
        full, first, _ = batches
        poisoned = first.withColumn(
            "tags",
            F.when(
                F.col("doc_id") == "doc-000000001",
                F.map_concat(
                    F.col("tags"),
                    F.create_map(F.lit("bad:key"), F.array(F.lit("v"))),
                ),
            ).otherwise(F.col("tags")),
        )
        src = str(tmp_path / "incoming")
        scat = TableCatalog(str(tmp_path / "scat"))
        drop_file(poisoned, src, "arrival1")
        run_stream(spark, scat, src)

        bcat = TableCatalog(str(tmp_path / "bcat"))
        Pipeline(spark, bcat, PipelineConfig(execution_id="batch")).run(
            poisoned.select("doc_id", "spans"),
            poisoned.select("doc_id", "tags"),
        )

        def tagless(cat):
            return {
                r.doc_id for r in cat.read(spark, "records")
                .filter(~F.map_contains_key("tags", "user"))
                .select("doc_id").distinct().collect()
            }

        assert tagless(scat) == tagless(bcat) == {"doc-000000001"}

        def base_triples(cat):
            return {
                (r.subj, r.pred, r.obj)
                for r in cat.read(spark, "triples_base")
                .select("subj", "pred", "obj").collect()
            }

        assert base_triples(scat) == base_triples(bcat)
        q = scat.read(spark, "quarantine").first()
        assert q.key == "doc-000000001" and q.reason == "invalid_tag_key"

    def test_refresh_graph_matches_batch_pipeline(self, spark, tmp_path, batches):
        full, first, second = batches
        src = str(tmp_path / "incoming")
        stream_cat = TableCatalog(str(tmp_path / "scat"))

        drop_file(first, src, "arrival1")
        run_stream(spark, stream_cat, src)
        drop_file(second, src, "arrival2")
        run_stream(spark, stream_cat, src)
        si.refresh_graph(spark, stream_cat)

        batch_cat = TableCatalog(str(tmp_path / "bcat"))
        pipe = Pipeline(spark, batch_cat, PipelineConfig(execution_id="batch"))
        pipe.run(full.select("doc_id", "spans"), full.select("doc_id", "tags"))

        def triple_set(cat):
            return {
                (r.subj, r.pred, r.obj, r.doc_id)
                for r in cat.read(spark, "triples")
                .select("subj", "pred", "obj", "doc_id").collect()
            }

        assert triple_set(stream_cat) == triple_set(batch_cat)
        for t in ("nodes", "edges", "entity_map"):
            assert (
                stream_cat.read(spark, t).count()
                == batch_cat.read(spark, t).count()
            ), t


class TestIncrementalRefresh:
    def test_incremental_refresh_matches_batch_pipeline(
        self, spark, tmp_path, batches
    ):
        """refresh_graph_incremental after EVERY arrival must converge to
        the batch pipeline over the full corpus — while its UDF stages only
        ever touched the new surfaces (linking state machine)."""
        full, first, second = batches
        src = str(tmp_path / "incoming")
        scat = TableCatalog(str(tmp_path / "scat"))

        drop_file(first, src, "arrival1")
        run_stream(spark, scat, src)
        si.refresh_graph_incremental(spark, scat)
        surfaces_after_1 = scat.read(spark, "link_surfaces").count()
        scores_after_1 = scat.read(spark, "link_edge_scores").count()

        drop_file(second, src, "arrival2")
        run_stream(spark, scat, src)
        si.refresh_graph_incremental(spark, scat)
        # the state accumulated (no rebuild from scratch)
        assert scat.read(spark, "link_surfaces").count() >= surfaces_after_1
        assert scat.read(spark, "link_edge_scores").count() >= scores_after_1

        batch_cat = TableCatalog(str(tmp_path / "bcat"))
        pipe = Pipeline(spark, batch_cat, PipelineConfig(execution_id="batch"))
        pipe.run(full.select("doc_id", "spans"), full.select("doc_id", "tags"))

        def triple_set(cat):
            return {
                (r.subj, r.pred, r.obj, r.doc_id)
                for r in cat.read(spark, "triples")
                .select("subj", "pred", "obj", "doc_id").collect()
            }

        assert triple_set(scat) == triple_set(batch_cat)

        def edge_set(cat):
            return {
                (r.a, r.b) for r in cat.read(spark, "alias_edges")
                .select("a", "b").collect()
            }

        assert edge_set(scat) == edge_set(batch_cat)
        for t in ("nodes", "edges", "entity_map"):
            assert (
                scat.read(spark, t).count()
                == batch_cat.read(spark, t).count()
            ), t

    def test_second_refresh_with_no_new_docs_is_stable(
        self, spark, tmp_path, batches
    ):
        _full, first, _second = batches
        src = str(tmp_path / "incoming")
        scat = TableCatalog(str(tmp_path / "scat"))
        drop_file(first, src, "arrival1")
        run_stream(spark, scat, src)
        si.refresh_graph_incremental(spark, scat)
        edges_v1 = {
            (r.a, r.b) for r in scat.read(spark, "alias_edges").collect()
        }
        # idempotent: nothing new arrived, state and output unchanged
        si.refresh_graph_incremental(spark, scat)
        edges_v2 = {
            (r.a, r.b) for r in scat.read(spark, "alias_edges").collect()
        }
        assert edges_v1 == edges_v2


def alias_norms(n_entities=None):
    """Normalized alias surfaces of the synth vocabulary: shingle-similar
    within an entity, dissimilar across entities."""
    from kernel_memory_spark.functions.extraction import normalize_mention
    from kernel_memory_spark.synth import ENTITIES

    return sorted({
        normalize_mention(a)
        for _canon, aliases, _cls in ENTITIES[:n_entities]
        for a in aliases
    })


def case_variants(text, n):
    """n distinct spellings of `text` with one shingle set between them:
    MinHash puts all of them in the same bucket of every band."""
    letters = [i for i, c in enumerate(text) if c.isalpha()]
    out = []
    for k in range(n):
        chars = list(text)
        for bit, i in enumerate(letters):
            if k >> bit & 1:
                chars[i] = chars[i].upper()
        out.append("".join(chars))
    assert len(set(out)) == n
    return out


def norm_mentions(spark, norms):
    return spark.createDataFrame([(n,) for n in norms], "norm string")


def write_extractions(spark, cat, norms):
    """Replace the catalog's extractions with one mention row per surface —
    the only input of the link/canonicalize/materialize refresh — plus the
    triples_base the refresh's `triples` union reads."""
    rows = [
        (f"doc-{i:04d}", f"doc-{i:04d}/p0", "m", n, None, n)
        for i, n in enumerate(norms)
    ]
    cat.overwrite(spark.createDataFrame(
        rows, "doc_id string, partition_id string, kind string, subj string,"
        " pred string, obj string",
    ), "extractions")
    if not cat.exists("triples_base"):
        cat.overwrite(spark.createDataFrame(
            [("doc-0000/p0", "mentions", norms[0], "doc-0000", "e")],
            "subj string, pred string, obj string, doc_id string,"
            " execution_id string",
        ), "triples_base")


def refresh_outputs(spark, cat):
    edges = {(r.a, r.b) for r in cat.read(spark, "alias_edges").collect()}
    emap = {
        (r.norm, r.canonical_id)
        for r in cat.read(spark, "entity_map").collect()
    }
    return edges, emap


def assert_refresh_parity(spark, cat):
    """refresh_graph_incremental's alias edges and entity map equal the full
    refresh_graph's over the same extractions. Returns the edges."""
    si.refresh_graph_incremental(spark, cat)
    inc = refresh_outputs(spark, cat)
    si.refresh_graph(spark, cat)  # reads no link state, overwrites outputs
    assert inc == refresh_outputs(spark, cat)
    return inc[0]


class TestIncrementalLinkState:
    """The two append-only memo tables behind refresh_graph_incremental:
    link_surfaces (norm, bands) and link_edge_scores (a, b, jaccard,
    cosine)."""

    def test_parity_cold_warm_and_shrunk(self, spark, tmp_path):
        """Cold state, warm state, and a corpus that lost surfaces (a
        re-upload shrank documents): their memo rows stay but pair with
        nothing."""
        cat = TableCatalog(str(tmp_path / "cat"))
        write_extractions(spark, cat, alias_norms(12))
        few = assert_refresh_parity(spark, cat)
        write_extractions(spark, cat, alias_norms())
        assert assert_refresh_parity(spark, cat) > few
        assert set(cat.read(spark, "link_surfaces").columns) == {
            "norm", "bands"
        }
        write_extractions(spark, cat, alias_norms(12))
        assert assert_refresh_parity(spark, cat) == few
        assert cat.read(spark, "link_surfaces").count() == len(alias_norms())

    def test_hot_cap_crossing_withdraws_pairs(self, spark, tmp_path):
        """A band at BAND_BUCKET_CAP members goes over it between two
        refreshes: every pair it alone justified disappears, exactly as a
        batch link_entities over all mentions never emits them."""
        from kernel_memory_spark.operators import linking as lnk

        cap = lnk.BAND_BUCKET_CAP
        family = case_variants("zephyr quill atelier", cap + 1)
        cat = TableCatalog(str(tmp_path / "cat"))
        write_extractions(spark, cat, alias_norms() + family[:-1])
        before = assert_refresh_parity(spark, cat)
        write_extractions(spark, cat, alias_norms() + family)
        after = assert_refresh_parity(spark, cat)
        in_family = {(a, b) for a, b in before if {a, b} <= set(family)}
        assert len(in_family) == cap * (cap - 1) // 2
        assert after == before - in_family

    @pytest.mark.parametrize("band_tables", [True, False])
    def test_old_layout_is_rebuilt(self, spark, tmp_path, band_tables):
        """Link state written by the per-band layout (a signature-less
        link_surfaces, link_band_* tables) is dropped and rebuilt once.
        Stale scores planted in the old link_edge_scores would turn every
        candidate pair into an edge if they survived."""
        from kernel_memory_spark.operators import linking as lnk

        norms = alias_norms()
        cat = TableCatalog(str(tmp_path / "cat"))
        write_extractions(spark, cat, norms)
        mentions = norm_mentions(spark, norms)
        cat.merge_bucketed(spark, "link_surfaces", mentions, ["norm"],
                           "norm", n_buckets=4)
        pairs = lnk.candidate_pairs(lnk.surface_signatures(mentions))
        cat.merge_bucketed(
            spark, "link_edge_scores",
            pairs.select("a", "b", F.lit(1.0).alias("jaccard"),
                         F.lit(1.0).alias("cosine")),
            ["a", "b"], "a", n_buckets=4,
        )
        if band_tables:
            for t in ("link_band_members", "link_band_pairs"):
                cat.overwrite(spark.createDataFrame(
                    [("0:0", "x")], "band string, norm string"), t)

        edges = assert_refresh_parity(spark, cat)
        assert edges and len(edges) < pairs.count()
        assert not cat.exists("link_band_members")
        assert not cat.exists("link_band_pairs")
        assert "bands" in cat.read(spark, "link_surfaces").columns

    def test_refresh_with_nothing_new_commits_nothing(self, spark, tmp_path):
        from kernel_memory_spark.operators import linking as lnk

        cat = TableCatalog(str(tmp_path / "cat"))
        mentions = norm_mentions(spark, alias_norms())
        lnk.refresh_links_incremental(spark, cat, mentions).collect()
        versions = {
            t: cat.current_version(t)
            for t in ("link_surfaces", "link_edge_scores")
        }
        edges = lnk.refresh_links_incremental(spark, cat, mentions)
        assert {(r.a, r.b) for r in edges.collect()} == {
            (r.a, r.b) for r in lnk.link_entities(mentions).collect()
        }
        assert versions == {t: cat.current_version(t) for t in versions}

    def test_appends_stay_bounded_by_auto_compact(self, spark, tmp_path):
        """Every refresh that signs new surfaces appends one entry per state
        table; auto_compact folds them once they pass the threshold."""
        from kernel_memory_spark.operators import linking as lnk

        norms = alias_norms()
        cat = TableCatalog(str(tmp_path / "cat"))
        entries = []
        for k in (8, 16, 24, len(norms)):
            mentions = norm_mentions(spark, norms[:k])
            edges = lnk.refresh_links_incremental(
                spark, cat, mentions, compact_threshold=2
            )
            entries.append(len(cat._entries("link_surfaces")))
            assert cat.max_entries_per_bucket("link_edge_scores") <= 2
        assert entries == [1, 2, 1, 2]
        assert {(r.a, r.b) for r in edges.collect()} == {
            (r.a, r.b) for r in lnk.link_entities(mentions).collect()
        }
        assert cat.read(spark, "link_surfaces").count() == len(norms)

    def test_refresh_job_counts_pinned(self, spark, tmp_path, jobs_of):
        """Jobs of a cold refresh and of a refresh with no new documents.
        Counts do not move with host speed; a change to either means the
        refresh's plan changed — re-pin only with the reason."""
        cat = TableCatalog(str(tmp_path / "cat"))
        write_extractions(spark, cat, alias_norms())
        cold = jobs_of(lambda: si.refresh_graph_incremental(spark, cat))
        again = jobs_of(lambda: si.refresh_graph_incremental(spark, cat))
        assert (cold, again) == (29, 31)


class TestStreamingCooccurIndex:
    def test_index_parity_and_redelivery_idempotence(
        self, spark, tmp_path, batches
    ):
        """With cfg.cooccur_index set, every micro-batch folds its docs'
        co-mentions into the incremental PMI index; after two arrivals
        plus a re-delivered first batch, pmi_from_index must equal a
        one-shot pmi_edges over the stored extractions (replace=True
        absorbs the re-delivery exactly like the doc-scoped merges)."""
        from kernel_memory_spark.operators import cooccur as CO
        from kernel_memory_spark.operators import triples as tri

        full, first, second = batches
        src = str(tmp_path / "incoming")
        cat = TableCatalog(str(tmp_path / "cat"))
        cfg = PipelineConfig(cooccur_index="comention")

        for df, name in (
            (first, "arrival1"),
            (second, "arrival2"),
            (first, "arrival1-redelivered"),
        ):
            drop_file(df, src, name)
            si.stream_ingest(spark, cat, src, config=cfg).awaitTermination()

        mentions = tri.mentions_from_extractions(
            cat.read(spark, "extractions")
        ).select("doc_id", "norm")
        ref = {
            (r.src, r.dst): (r.n_pairs, r.pmi)
            for r in CO.pmi_edges(mentions, "doc_id", "norm").collect()
        }
        inc = {
            (r.src, r.dst): (r.n_pairs, r.pmi)
            for r in CO.pmi_from_index(spark, cat, "comention").collect()
        }
        assert set(inc) == set(ref)
        for k in ref:
            assert inc[k][0] == ref[k][0], k
            assert inc[k][1] == pytest.approx(ref[k][1], abs=1e-12), k
        assert len(ref) > 0


class TestAutoCompaction:
    def test_bucket_file_count_bounded_across_batches(
        self, spark, tmp_path
    ):
        """N micro-batches with the default auto-compaction policy: the
        merges-since-compact counter must stay bounded by the threshold
        (each crossing triggers a compaction that resets it), no table
        bucket may exceed max(2, threshold) manifest entries after any
        batch, data stays correct, and the PMI index still matches a
        one-shot rebuild (tombstones from re-deliveries purged along the
        way are semantically invisible)."""
        from kernel_memory_spark.operators import cooccur as CO
        from kernel_memory_spark.operators import triples as tri

        full = synth_full(spark, 10).select("doc_id", "spans", "tags")
        full = full.localCheckpoint()
        cat = TableCatalog(str(tmp_path / "cat"))
        cfg = PipelineConfig(
            records_buckets=4, compact_threshold=3,
            cooccur_index="comention",
        )
        ids = sorted(r.doc_id for r in full.select("doc_id").collect())
        # 14 single-doc batches: every doc once, the first four re-delivered
        deliveries = ids + ids[:4]
        compacted_ever = []
        for i, did in enumerate(deliveries):
            out = si.ingest_batch(
                spark, cat,
                full.filter(F.col("doc_id") == did), cfg, f"e-{i}",
            )
            compacted_ever += out["compacted"]
            watched = list(si._STREAM_TABLES) + [
                "comention" + p for p in ("__pairs", "__marg", "__baskets")
            ]
            for name in watched:
                if not cat.exists(name):
                    continue
                # a write-first merge folds its touched buckets to <=2
                # entries; compaction keeps the rest bounded too
                assert (
                    cat.max_entries_per_bucket(name)
                    <= max(2, cfg.compact_threshold)
                ), (name, i)
                # the debt counter resets on every compaction, so it can
                # never run past threshold+1 (the batch that trips it)
                assert (
                    cat.merges_since_compact(name)
                    <= cfg.compact_threshold + 1
                ), (name, i)
        # 14 merges per table with threshold 3 must have tripped the
        # policy several times
        assert compacted_ever
        # correctness after maintenance: re-delivery replaced, not duped
        assert cat.read(spark, "corpus").count() == 10
        mentions = tri.mentions_from_extractions(
            cat.read(spark, "extractions")
        ).select("doc_id", "norm")
        ref = {
            (r.src, r.dst): r.n_pairs
            for r in CO.pmi_edges(mentions, "doc_id", "norm").collect()
        }
        inc = {
            (r.src, r.dst): r.n_pairs
            for r in CO.pmi_from_index(spark, cat, "comention").collect()
        }
        assert inc == ref and len(ref) > 0

    def test_tombstones_purged_on_compaction(self, spark, tmp_path):
        """Replace-mode re-deliveries leave zero-count rows in the pairs
        table; a compaction triggered past the threshold drops them from
        the rewritten buckets."""
        from kernel_memory_spark.operators import cooccur as CO

        cat = TableCatalog(str(tmp_path / "cat"))
        rows = [("b1", "x"), ("b1", "y"), ("b2", "x"), ("b2", "z")]
        df = spark.createDataFrame(rows, "bk string, it string")
        CO.upsert_cooccur_index(
            spark, cat, "ix", df, "bk", "it", n_buckets=2, replace=True
        )
        # re-deliver basket b1 with DIFFERENT items: (x,y) pair -> 0
        df2 = spark.createDataFrame([("b1", "x"), ("b1", "z")],
                                    "bk string, it string")
        for i in range(4):  # pile up entries past any threshold
            CO.upsert_cooccur_index(
                spark, cat, "ix", df2, "bk", "it", n_buckets=2,
                replace=True,
            )
        pairs_before = cat.read(spark, "ix__pairs")
        assert pairs_before.filter(F.col("n_pairs") == 0).count() > 0
        done = CO.compact_cooccur_index(spark, cat, "ix", threshold=1)
        assert "ix__pairs" in done
        after = cat.read(spark, "ix__pairs")
        assert after.filter(F.col("n_pairs") == 0).count() == 0
        # surviving counts unchanged
        want = {("x", "z"): 2}  # b1 and b2 both hold (x,z) now
        got = {
            (r.src, r.dst): r.n_pairs
            for r in after.filter(F.col("n_pairs") > 0).collect()
        }
        assert got == want
