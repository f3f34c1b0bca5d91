"""Stage `link`: entity mentions -> similarity edges via MinHash-LSH blocking
+ embedding-cosine scoring.

Scale design (the O(n²) pairwise comparison is the thing to avoid at 10^12
docs):

1. distinct normalized surfaces — a SALTED two-phase aggregation because
   mention frequency is Zipfian (hot entities would funnel into single
   reducers otherwise): pre-aggregate on (norm, salt), then final-aggregate
   on norm. AQE skew-join handling is also on (session.py).
2. MinHash signatures per distinct surface (Arrow-batched pandas UDF using
   functions/minhash.py — identical seeds to the single-node oracle).
3. explode the 32 LSH band keys, self-join on band key -> candidate pairs.
   Pair generation is per-band equi-join, so candidates ≈ true near-pairs,
   not n².
4. exact verification per candidate: char-3-gram Jaccard AND cosine of the
   deterministic hash embeddings; both thresholds must pass.

The output edge set feeds connected components (operators/canonicalize.py).
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kernel_memory_spark.functions.minhash import band_keys, jaccard, minhash_signature
from kernel_memory_spark.functions.vectors import cosine, hash_embed
from kernel_memory_spark.sources.tables import table_columns

JACCARD_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.6
DEFAULT_SALT_BUCKETS = 16
# LSH hot-bucket cap: a band bucket with more members than this is dropped
# before pair generation. True alias pairs share many bands (high Jaccard),
# so they survive; garbage mega-buckets (short/common shingle patterns)
# would otherwise contribute O(bucket^2) candidate pairs. The single-node
# oracle applies the identical cap (oracle.link_surfaces).
BAND_BUCKET_CAP = 64
# outputs of the two Python-UDF stages, and so the schemas of the
# incremental refresh's memo tables
SIGNATURES_SCHEMA = "norm string, bands array<string>"
SCORES_SCHEMA = "a string, b string, jaccard double, cosine double"


def salted_surface_counts(
    mentions: DataFrame, salt_buckets: int = DEFAULT_SALT_BUCKETS
) -> DataFrame:
    """(norm, n_mentions) with explicit two-phase salted aggregation.

    Phase 1 groups on (norm, salt) so a hot surface spreads over
    `salt_buckets` reducers; phase 2 sums the per-salt partials. Spark's
    map-side partial aggregation already helps, but at 10^12-doc scale the
    final exchange for a Zipf-1 head key still bottlenecks one task —
    salting bounds that task's input to 1/salt_buckets.
    """
    salted = mentions.withColumn(
        "salt", (F.crc32(F.col("partition_id")) % salt_buckets).cast("int")
    )
    partial = salted.groupBy("norm", "salt").agg(F.count("*").alias("c"))
    return partial.groupBy("norm").agg(F.sum("c").alias("n_mentions"))


def surface_signatures(surfaces: DataFrame) -> DataFrame:
    """(norm) -> (norm, band array<string>) via Arrow-batched minhash."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bands = [band_keys(minhash_signature(n)) for n in pdf["norm"]]
            yield pd.DataFrame({"norm": pdf["norm"], "bands": bands})

    return surfaces.select("norm").mapInPandas(run, schema=SIGNATURES_SCHEMA)


def candidate_pairs(
    signatures: DataFrame, bucket_cap: int = BAND_BUCKET_CAP
) -> DataFrame:
    """LSH band equi-join -> distinct candidate (a, b) pairs, a < b.
    Buckets above `bucket_cap` members are dropped first (hot-bucket guard:
    pair volume is Σ bucket², so one mega-bucket dominates the stage).

    The exploded band table is materialized once (localCheckpoint): it
    feeds the hot-bucket aggregation AND both self-join sides — without it
    the minhash pandas-UDF subtree re-executes for all three consumers.
    Lazy: the hot-bucket aggregation's own job materializes it, instead of
    paying a separate eager-checkpoint job first."""
    exploded = signatures.select(
        "norm", F.explode("bands").alias("band")
    ).localCheckpoint(eager=False)
    hot = (
        exploded.groupBy("band")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > bucket_cap)
        .select("band")
    )
    cool = exploded.join(F.broadcast(hot), "band", "left_anti")
    left = cool.alias("l")
    right = cool.alias("r")
    return (
        left.join(right, (F.col("l.band") == F.col("r.band")))
        .filter(F.col("l.norm") < F.col("r.norm"))
        .select(F.col("l.norm").alias("a"), F.col("r.norm").alias("b"))
        .distinct()
    )


def score_pairs(pairs: DataFrame) -> DataFrame:
    """Exact verification: (a, b, jaccard, cosine). Each surface appears in
    many candidate pairs, so shingle sets and embeddings are memoized per
    Arrow batch instead of recomputed per pair."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from kernel_memory_spark.functions.minhash import shingles

        sh_memo: dict = {}
        emb_memo: dict = {}

        def sh(x):
            v = sh_memo.get(x)
            if v is None:
                v = shingles(x)
                sh_memo[x] = v
            return v

        def em(x):
            v = emb_memo.get(x)
            if v is None:
                v = hash_embed(x)
                emb_memo[x] = v
            return v

        for pdf in batches:
            jac, cos = [], []
            for a, b in zip(pdf["a"], pdf["b"]):
                sa, sb = sh(a), sh(b)
                union = len(sa | sb)
                jac.append(len(sa & sb) / union if union else 1.0)
                cos.append(cosine(em(a), em(b)))
            yield pd.DataFrame(
                {"a": pdf["a"], "b": pdf["b"], "jaccard": jac, "cosine": cos}
            )

    return pairs.mapInPandas(run, schema=SCORES_SCHEMA)


def link_entities(
    mentions: DataFrame,
    jaccard_threshold: float = JACCARD_THRESHOLD,
    cosine_threshold: float = COSINE_THRESHOLD,
) -> DataFrame:
    """MENTIONS -> alias edges (a, b, jaccard, cosine), both thresholds met."""
    # distinct() partial-aggregates map-side; the salted two-phase variant
    # (salted_surface_counts) is used where the counts are actually needed
    # (canonicalize.materialize_nodes)
    surfaces = mentions.select("norm").distinct()
    sigs = surface_signatures(surfaces)
    pairs = candidate_pairs(sigs)
    scored = score_pairs(pairs)
    return scored.filter(
        (F.col("jaccard") >= jaccard_threshold)
        & (F.col("cosine") >= cosine_threshold)
    )


# ---------------------------------------------------------------------------
# Incremental linking (refresh_graph_incremental). Of the four link stages
# only the two Python UDFs — MinHash signing and pair verification — are
# worth remembering between refreshes; band grouping is a cheap JVM
# aggregate, so candidate pairs are rebuilt every refresh by the batch
# path's own candidate_pairs. That replays the hot-bucket cap with current
# band counts: a band that crosses the cap withdraws its pairs exactly as
# link_entities over all mentions would never have emitted them.
#
# Persisted state, both append-only (auto_compact folds the appends):
#   {p}_surfaces     (norm, bands)              signatures already computed
#   {p}_edge_scores  (a, b, jaccard, cosine)    verifications already run
#
# Both are deterministic in their keys, so a stored row never goes stale.
# Per refresh: look the surfaces mentioned NOW up in {p}_surfaces and sign
# only the misses; pair those signatures; look the pairs up in
# {p}_edge_scores and score only the misses; the edges are the pairs whose
# scores pass both thresholds.
# ---------------------------------------------------------------------------


def refresh_links_incremental(
    spark,
    catalog,
    mentions: DataFrame,
    jaccard_threshold: float = JACCARD_THRESHOLD,
    cosine_threshold: float = COSINE_THRESHOLD,
    bucket_cap: int = BAND_BUCKET_CAP,
    prefix: str = "link",
    compact_threshold: Optional[int] = 8,
) -> DataFrame:
    """Update the linking memo with `mentions` and return the CURRENT alias
    edges (a, b, jaccard, cosine) — the same set link_entities(mentions)
    returns, also after a re-upload removed surfaces (their memo rows stay
    but pair with nothing). A refresh with nothing new commits nothing;
    `compact_threshold` (None disables) bounds the memo's append entries."""
    sfc, scr = f"{prefix}_surfaces", f"{prefix}_edge_scores"
    _drop_legacy_state(catalog, prefix)
    sigs = _memoized(
        spark, catalog, sfc, SIGNATURES_SCHEMA,
        mentions.select("norm").distinct(), surface_signatures,
    )
    scores = _memoized(
        spark, catalog, scr, SCORES_SCHEMA,
        candidate_pairs(sigs, bucket_cap), score_pairs,
    )
    if compact_threshold:
        for name in (sfc, scr):
            catalog.auto_compact(spark, name, compact_threshold)
    return scores.filter(
        (F.col("jaccard") >= jaccard_threshold)
        & (F.col("cosine") >= cosine_threshold)
    )


def _memoized(spark, catalog, name: str, schema: str, todo: DataFrame,
              compute) -> DataFrame:
    """`compute(todo)`, answered from the append-only memo table `name`
    where it already holds a row's key; only the misses reach `compute`,
    and they are appended. `compute` must be deterministic in the key
    columns (`todo`'s columns). An append that lands no rows commits
    nothing. The returned frame reads no table: later compaction of the
    memo cannot change it."""
    keys = todo.columns
    hits = None
    if catalog.exists(name):
        stored = catalog.read(spark, name, schema=schema)
        value = [c for c in stored.columns if c not in keys][0]
        # checkpointed: feeds both the hits and the misses
        looked = todo.join(stored, keys, "left").localCheckpoint(eager=False)
        hits = looked.filter(F.col(value).isNotNull())
        todo = looked.filter(F.col(value).isNull()).select(*keys)
    # checkpointed: feeds both the append and the result, which the
    # append materializes
    fresh = compute(todo).localCheckpoint(eager=False)
    catalog.append(fresh, name)
    return fresh if hits is None else hits.unionByName(fresh)


def _drop_legacy_state(catalog, prefix: str) -> None:
    """Catalogs written before the two-table memo kept per-band tables and a
    signature-less surfaces table: drop the whole old state once, so the
    next refresh rebuilds it from scratch."""
    legacy = [f"{prefix}_band_members", f"{prefix}_band_pairs"]
    sfc = f"{prefix}_surfaces"
    if any(catalog.exists(t) for t in legacy) or (
        catalog.exists(sfc) and "bands" not in table_columns(catalog, sfc)
    ):
        for t in legacy + [sfc, f"{prefix}_edge_scores"]:
            catalog.drop(t)
