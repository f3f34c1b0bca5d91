"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship KG-construction slice on sf0.001;
`queries()` exposes one operator per SURVEY.md §2 line (plus the
training-data-pipeline operators), each mirrored by `oracle_sql()` ANSI SQL
for the DuckDB cross-check. Column names and rounding are aligned on both
sides (the driver hashes values with columns sorted by name).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kernel_memory_spark.operators import canonicalize as CZN
from kernel_memory_spark.operators import extract as EX
from kernel_memory_spark.operators import partition as PRT
from kernel_memory_spark.operators import query as Q
from kernel_memory_spark.operators import triples as TRI
from kernel_memory_spark.sources.corpus import corpus_from_documents, load_table

STOPSET = ["the", "a", "value", "table", "row"]

_TMP_ROOT: str | None = None


def _query_tmpdir(prefix: str) -> str:
    """Fresh per-invocation scratch dir for entries that build a persisted
    index/catalog, under ONE session root that is removed at interpreter
    exit (the per-call mkdtemp dirs previously leaked across bench/gate
    runs). Each call still returns a NEW empty dir — no state is ever
    reused between invocations. Rooted under TMPDIR when it is set, so
    large persisted indexes can be sent to disk; otherwise on tmpfs when
    available, for the same reason the bench scratch is (a single shared
    disk is a non-scaling co-tenant-contended resource)."""
    import atexit
    import shutil
    import tempfile

    global _TMP_ROOT
    if _TMP_ROOT is None:
        base = os.environ.get("TMPDIR") or (
            "/dev/shm" if os.path.isdir("/dev/shm") else None
        )
        _TMP_ROOT = tempfile.mkdtemp(prefix="kms_entry_", dir=base)
        atexit.register(shutil.rmtree, _TMP_ROOT, True)
    return tempfile.mkdtemp(prefix=prefix, dir=_TMP_ROOT)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents -> interleaved span corpus -> extract -> partition
    (chunker pandas UDF) -> mention/pattern extraction -> lineage + mention
    triples. Returns the triple DataFrame (subj, pred, obj, doc_id,
    execution_id)."""
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = corpus_from_documents(docs)
    extracted = EX.extract(corpus)
    # lazy checkpoint: the chunker feeds both union branches (same
    # reasoning as kg_triples_sf) — computed fresh per invocation
    parts = PRT.partition(
        extracted, max_tokens=200, overlap=20
    ).localCheckpoint(eager=False)
    lineage = TRI.lineage_triples(parts, extracted, None, "entry")
    mentions = TRI.extract_mentions_df(parts)
    return lineage.unionByName(TRI.mention_triples(mentions, "entry"))


# ---------------------------------------------------------------------------
# Spark-side query implementations
# ---------------------------------------------------------------------------

def _dbl(c):  # element-wise double cast for float vectors
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, v: acc + v)


def q1_pricing_summary(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_shipping_priority(spark, sf):
    c = load_table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    l = load_table(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q5_revenue_by_nation(spark, sf):
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    l = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def tag_filter_and_or(spark, sf):
    """F1: MemoryFilter semantics — AND within a filter, OR across filters —
    compiled by operators/query.filter_to_column over a tags map."""
    docs = load_table(spark, sf, "documents").withColumn(
        "tags",
        F.create_map(
            F.lit("lang"), F.array(F.col("lang")),
            F.lit("source"), F.array(F.col("source")),
        ),
    )
    flt = Q.filter_to_column([
        {"lang": ["en"], "source": ["src1"]},
        {"source": ["src2"]},
    ])
    return docs.filter(flt).select("doc_id")


def mongo_query_filter(spark, sf):
    """IQueryParser surface: MongoJSON query -> AST -> one boolean Column
    (plans/ast.parse_mongo + compile_node); same AST the infix parser
    produces for the equivalent query (QueryParserEquivalenceTests port)."""
    from kernel_memory_spark.plans import ast as AST

    docs = load_table(spark, sf, "documents")
    node = AST.parse_query(
        '{"$and": [{"lang": {"$in": ["en", "de"]}},'
        ' {"n_chars": {"$gte": 200, "$lt": 450}},'
        ' {"$not": {"source": "src3"}}]}'
    )
    return docs.filter(AST.compile_node(node)).select("doc_id")


def resume_anti_join(spark, sf):
    """F4/Q1: already-processed skip as a left anti-join."""
    o = load_table(spark, sf, "orders")
    l = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") >= "1997-01-01"
    )
    return o.join(l, o.o_orderkey == l.l_orderkey, "left_anti").select("o_orderkey")


def purge_keepset(spark, sf):
    """J4: purge via keep-set — rows of touched docs not in the keep-set."""
    l = load_table(spark, sf, "lineitem").select("l_orderkey", "l_linenumber")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    touched = l.join(o, l.l_orderkey == o.o_orderkey, "left_semi")
    keep = touched.filter(F.col("l_linenumber") <= 2)
    return touched.join(
        keep, ["l_orderkey", "l_linenumber"], "left_anti"
    ).select("l_orderkey", "l_linenumber")


def latest_event_per_user(spark, sf):
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def rerank_events(spark, sf):
    """A1: diminishing-returns score merge per user over bounded scores."""
    e = load_table(spark, sf, "events").withColumn(
        "score", F.col("value") / (1 + F.abs(F.col("value")))
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("score"), F.asc("event_id"))
    ranked = e.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("user_id")
        .agg(
            F.round(
                F.least(
                    F.lit(1.0),
                    F.sum(F.col("score") * F.pow(F.lit(0.5), F.col("rn") - 1)),
                ),
                6,
            ).alias("relevance")
        )
    )


def paginate_customers(spark, sf):
    c = load_table(spark, sf, "customer")
    return Q.paginate(
        c.select("c_custkey", "c_name"), [F.asc("c_custkey")], offset=100, limit=20
    )


def record_ids(spark, sf):
    docs = load_table(spark, sf, "documents")
    return docs.select(
        F.format_string(
            "d=doc-%09d//p=%s", F.col("doc_id").cast("long"), F.md5("text")
        ).alias("record_id")
    )


def record_scaffold(spark, sf):
    """§2.11 tag/lineage scaffold per PrepareRecord: reserved tag columns
    flattened; file id = sha-based deterministic id."""
    docs = load_table(spark, sf, "documents")
    doc = F.format_string("doc-%09d", F.col("doc_id").cast("long"))
    fid = F.substring(F.sha2(F.concat(doc, F.lit("/extract")), 256), 1, 32)
    return docs.select(
        F.format_string("d=%s//p=%s.partition.0", doc, fid).alias("id"),
        doc.alias("document_id"),
        fid.alias("file_id"),
        F.lit("text/plain").alias("file_type"),
        F.lit("0").alias("part_n"),
        F.lit("0").alias("sect_n"),
    )


def sha256_hashes(spark, sf):
    docs = load_table(spark, sf, "documents")
    return docs.select("doc_id", F.sha2("text", 256).alias("text_sha256"))


def index_name_normalize(spark, sf):
    docs = load_table(spark, sf, "documents")
    raw = F.concat_ws(" ", F.col("source"), F.col("lang"), F.lit("Index.V1:final"))
    return docs.select(
        "doc_id",
        F.regexp_replace(F.lower(raw), r"[\s\\/._:]+", "-").alias("index_name"),
    ).dropDuplicates(["index_name"]).select("index_name")


def dedup_exact_docs(spark, sf):
    docs = load_table(spark, sf, "documents")
    return docs.groupBy(F.md5("text").alias("text_md5")).agg(
        F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies")
    )


def minhash_lsh_dedup(spark, sf):
    """MinHash (4 md5 permutations) + single-band LSH over word 3-gram
    shingles; clones (doc_id+100000) must pair with their originals."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    both = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    # Signature computation as one Arrow-batched pass (guide-§4.2 shape:
    # hashlib's C md5 on whole batches): the previous column-algebra form
    # (transform/slice/array_join gram arrays -> explode -> groupBy with 4
    # min(md5) aggregates) spent ~2.5s of its 3.4s wall just building gram
    # arrays through interpreted higher-order-function lambdas, then paid a
    # SortAggregate (min over strings is not hash-aggregable) over the
    # exploded gram table. This computes the identical four md5 minima per
    # doc (same "s|gram" preimages, same UTF-8 bytes, same lowercase hex;
    # re.ASCII \s+ == Java \s+ == [ \t\n\x0b\f\r]; trailing empty splits
    # kept by both; min over the distinct-gram set == min over duplicates)
    # with no Generate, no Sort, no Exchange before the band grouping.
    import hashlib
    import re
    from typing import Iterator

    import pandas as pd

    _ws = re.compile(r"\s+", re.ASCII)

    def _sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        for pdf in batches:
            ids, bands = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:  # explode(NULL grams) dropped the row too
                    continue
                words = _ws.split(text)
                n = max(len(words) - 3, 0) + 1
                grams = {" ".join(words[i:i + 3]) for i in range(n)}
                mins = [
                    min(md5((s + g).encode("utf-8")).hexdigest()
                        for g in grams)
                    for s in ("0|", "1|", "2|", "3|")
                ]
                ids.append(doc_id)
                bands.append("|".join(mins))
            yield pd.DataFrame({"doc_id": ids, "band": bands})

    sig = both.mapInPandas(_sig, schema="doc_id long, band string")
    # Pair generation by grouping on the band instead of a self-join: the
    # self-join executed the whole grams/md5-signature subtree TWICE (Spark
    # does not share common subtrees across join sides) and needed two
    # exchanges + a broadcast; grouping computes the signatures once and
    # shuffles once. Emitting (ids[i], ids[j]) for i < j over the sorted
    # member list yields exactly the a.doc_id < b.doc_id pairs of the join.
    bands = sig.groupBy("band").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    return (
        bands.select(F.posexplode("ids").alias("i", "dup_a"), "ids")
        .select(
            "dup_a",
            F.explode(
                F.slice("ids", F.col("i") + F.lit(2), F.size("ids"))
            ).alias("dup_b"),
        )
    )


def citations_for_matches(spark, sf):
    """Citation derivation (SearchClient.ProcessMemoryRecord): match records
    (2 partitions per doc, differing relevance) -> grouped Citation structs
    -> flattened with each partition's ordinal (relevance desc, part asc)."""
    from kernel_memory_spark import schema as S
    from kernel_memory_spark.operators import citations as CIT

    docs = load_table(spark, sf, "documents")
    doc = F.format_string("doc-%09d", F.col("doc_id").cast("long"))
    fid = F.substring(F.sha2(F.concat(doc, F.lit("/extract")), 256), 1, 32)

    def part(pn, text_col, rel_col):
        return docs.select(
            F.create_map(
                F.lit(S.TAG_DOCUMENT_ID), F.array(doc),
                F.lit(S.TAG_FILE_ID), F.array(fid),
                F.lit(S.TAG_FILE_TYPE), F.array(F.lit("text/plain")),
                F.lit(S.TAG_PART_N), F.array(F.lit(str(pn))),
                F.lit(S.TAG_SECT_N), F.array(F.lit("0")),
            ).alias("tags"),
            F.struct(
                text_col.alias("text"),
                F.concat(doc, F.lit(".txt")).alias("file"),
                F.lit("").alias("url"),
                F.lit("1970-01-01T00:00:00").alias("last_update"),
            ).alias("payload"),
            rel_col.alias("relevance"),
        )

    p0 = part(0, F.substring("text", 1, 100),
              F.round(((F.col("doc_id") % 7) + 1) / 10.0, 6))
    p1 = part(1, F.substring("text", 101, 1000000),
              F.round(((F.col("doc_id") % 4) + 1) / 10.0, 6))
    matches = p0.unionByName(p1)
    return CIT.flatten_citations(CIT.build_citations(matches, index="default"))


def _docs_with_clones(spark, sf):
    """documents + exact clones at doc_id+100000, ids zero-padded so string
    ordering == numeric ordering (pair output is (a < b) on string ids)."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    both = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    return both.select(
        F.lpad(F.col("doc_id").cast("string"), 9, "0").alias("doc_id"), "text"
    )


def simhash_dup_pairs(spark, sf):
    """SimHash near-dup pairs via the production operator (operators/dedup).
    md5-derived 64-bit simhash, 4x16-bit band blocking with hot-bucket cap,
    exact Hamming verify — clones must pair with originals at distance 0."""
    from kernel_memory_spark.operators import dedup as D

    return D.simhash_dup_pairs(
        _docs_with_clones(spark, sf), max_hamming=3
    ).select("a", "b", "hamming")


def ngram_dup_pairs(spark, sf):
    """Word-3gram Jaccard pairs via the production operator: gram
    document-frequency cap, JVM-only blocking join, exact Jaccard over the
    capped gram space."""
    from kernel_memory_spark.operators import dedup as D

    pairs = D.ngram_jaccard_pairs(_docs_with_clones(spark, sf), threshold=0.8)
    return pairs.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def ppjoin_docs(spark, sf):
    """EXACT all-pairs token-Jaccard >= 0.6 via prefix filtering
    (SSJoin/PPJoin) — the lossless similarity join whose oracle is the
    BRUTE-FORCE pair set, pinning that the rarest-first prefix +
    length-filter pruning misses nothing."""
    from kernel_memory_spark.operators import dedup as D

    docs = load_table(spark, sf, "documents")
    return D.prefix_jaccard_join(docs, threshold=0.6)


def containment_docs(spark, sf):
    """Asymmetric n-gram containment (quote/subset detection): documents
    plus a 15-word excerpt of each at doc_id+100000 — every excerpt must
    be found contained in its parent at ~1.0 even though the pair's
    Jaccard is far below any dedup threshold."""
    from kernel_memory_spark.operators import dedup as D

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    excerpts = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), r"\s+"), 1, 15), " "
        ).alias("text"),
    )
    both = docs.unionByName(excerpts).select(
        F.lpad(F.col("doc_id").cast("string"), 9, "0").alias("doc_id"),
        "text",
    )
    pairs = D.containment_pairs(both, threshold=0.9)
    return pairs.select(
        "src", "dst", F.round("containment", 6).alias("containment")
    )


def cosine_dup_pairs(spark, sf):
    """Embedding-cosine near-dup via the production operator: md5-derived
    +/-1 sign-projection buckets (SQL-reproducible), hot-bucket cap,
    ids-only blocking join, exact JVM cosine verify. Clones at
    vec_id+100000 must pair with originals at cos=1."""
    from kernel_memory_spark.operators import dedup as D

    emb = load_table(spark, sf, "embeddings")
    both = emb.select("vec_id", "embedding").unionByName(
        emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    dim = len(emb.first().embedding)
    return D.cosine_dup_pairs(both, dim, threshold=0.98)


def knn_topk(spark, sf):
    """T1: brute-force cosine top-k vs the vec_id=0 embedding."""
    emb = load_table(spark, sf, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select(
        _dbl("embedding").alias("qv")
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qrow))
        .select(
            "vec_id",
            (
                _dot(_dbl("embedding"), F.col("qv"))
                / (
                    F.sqrt(_dot(_dbl("embedding"), _dbl("embedding")))
                    * F.sqrt(_dot(F.col("qv"), F.col("qv")))
                )
            ).alias("raw"),
        )
        .select("vec_id", F.round("raw", 4).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(10)


def ann_recall(spark, sf):
    """ANN quality report, fully oracle-checked: per-query top-10 recall of
    multiprobe sign-LSH (md5 +/-1 hyperplanes — SQL-replayable, so DuckDB
    rebuilds the identical bucket assignment) vs the brute-force baseline,
    over the first 10 embedding vectors as queries. One batched job: bucket
    UDF once, then JVM-only cross-join scoring, probe expansion, ranking
    windows. On these synthetic unclustered embeddings recall ~= fraction
    probed (no neighbor locality to exploit) — the >=0.9 quality gate lives
    in pytest on planted near-neighbors (test_dedup_similarity.py)."""
    from kernel_memory_spark.operators import similarity as SIM

    emb = load_table(spark, sf, "embeddings")
    return SIM.lsh_recall_report(emb, dim=64, n_planes=6, k=10, n_queries=10)


def ann_quantized_topk(spark, sf):
    """Quantized ANN end-to-end: persisted LSH index storing int8
    (q, scale) instead of float vectors (4x smaller at rest, 4x less
    probe shuffle), multiprobe query dequantizing ONLY the probed
    buckets' candidates, exact cosine rank on the reconstruction. The
    oracle replays the identical md5 +/-1 hyperplanes, the bit-exact
    int8 quantization, and the q*scale reconstruction in SQL, so a hash
    match pins the full store-quantized/search-dequantized composition
    (SqliteVectorIndex search semantics at 1/4 the bytes)."""
    import tempfile

    from kernel_memory_spark.operators import similarity as SIM
    from kernel_memory_spark.sources.tables import TableCatalog

    emb = load_table(spark, sf, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select("embedding").first()[0]
    ]
    cat = TableCatalog(_query_tmpdir("kms_annq_"))
    SIM.build_lsh_index(
        spark, cat, emb.filter(F.col("vec_id") != 0),
        dim=64, n_planes=6, quantize=True,
    )
    out = SIM.query_lsh_index(
        spark, cat, qv, dim=64, k=1 << 20, n_planes=6, probe_radius=1,
    )
    return (
        out.select("vec_id", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


def stopword_hits(spark, sf):
    docs = load_table(spark, sf, "documents")
    sw = F.array(*[F.lit(w) for w in STOPSET])
    return docs.select(
        "doc_id",
        F.size(
            F.array_intersect(
                F.array_distinct(F.split(F.col("text"), r"\s+")), sw
            )
        ).alias("n_hits"),
    )


def text_quality_counts(spark, sf):
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_text"),
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).alias("n_alpha"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_words"),
    )


def token_counts(spark, sf):
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.ceil(F.length("text") / 4.0).cast("long").alias("n_tokens_4char"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_words"),
    )


def fingerprints(spark, sf):
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", "")).alias(
            "fingerprint"
        ),
    )


def media_span_stats(spark, sf):
    """Interleaved-media plumbing (S3/multimodal): derive the span corpus,
    project the media spans (kind='media' with img:// provenance refs),
    aggregate per document — the metadata path binary decode kernels hang
    off (operators/multimodal.py; kernels stubbed, plumbing real)."""
    corpus = corpus_from_documents(load_table(spark, sf, "documents"))
    media = corpus.select(
        "doc_id", F.explode("spans").alias("s")
    ).filter(F.col("s.kind") == "media")
    return media.groupBy("doc_id").agg(
        F.count("*").alias("n_media"),
        F.min("s.media_ref").alias("first_media_ref"),
    )


def lineage_triples_docs(spark, sf):
    docs = load_table(spark, sf, "documents")
    doc = F.format_string("doc-%09d", F.col("doc_id").cast("long"))
    return (
        docs.select(doc.alias("subj"), F.lit("lang").alias("pred"),
                    F.col("lang").alias("obj"))
        .unionByName(
            docs.select(doc.alias("subj"), F.lit("source").alias("pred"),
                        F.col("source").alias("obj"))
        )
        .unionByName(
            docs.select(doc.alias("subj"), F.lit("n_chars").alias("pred"),
                        F.col("n_chars").cast("string").alias("obj"))
        )
    )


def events_hourly(spark, sf):
    e = load_table(spark, sf, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
    )


def top3_orders_per_customer(spark, sf):
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


def union_distinct_customers(spark, sf):
    c = load_table(spark, sf, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    return a.union(b).distinct()


def connected_components_star(spark, sf):
    """Iterative CC (canonicalize operator) on a star graph: every customer
    links to its nation's minimum customer; components == nations."""
    c = load_table(spark, sf, "customer")
    node = F.lpad(F.col("c_custkey").cast("string"), 9, "0")
    w = Window.partitionBy("c_nationkey")
    edges = c.select(
        node.alias("a"),
        F.lpad(F.min("c_custkey").over(w).cast("string"), 9, "0").alias("b"),
    )
    cc = CZN.connected_components(edges)
    return cc.select(F.col("norm").alias("node_id"), "component")


def salted_supplier_counts(spark, sf):
    """Skew-safe aggregation: explicit two-phase salted count per supplier."""
    l = load_table(spark, sf, "lineitem")
    salted = l.withColumn("salt", (F.col("l_linenumber") % 8))
    partial = salted.groupBy("l_suppkey", "salt").agg(F.count("*").alias("c"))
    return partial.groupBy("l_suppkey").agg(F.sum("c").alias("n_items"))


def bm25_topk_docs(spark, sf):
    """T2: BM25 over DataFrame postings (SqliteFtsIndex semantics)."""
    from kernel_memory_spark.operators import search_text as ST

    docs = load_table(spark, sf, "documents")
    scored = ST.bm25_topk(docs, ["spark", "vector", "merge"], k=1 << 20)
    return (
        scored.select("doc", F.round("score", 3).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc"))
        .limit(10)
    )


def search_end_to_end(spark, sf):
    """Composed SearchService chain (SearchService.cs:43-106): parse infix
    query -> two-node fan-out (the corpus visible on nodes 'node-a' and
    'node-b', node weights 1.0/0.9) -> per-node BM25 with the reference's
    exp(raw/10) normalization (SqliteFtsIndex.cs:199-205) -> weighted
    diminishing rerank (WeightedDiminishingReranker.cs:83-128) ->
    min-relevance 0.3 -> offset 5 / limit 20 pagination."""
    from kernel_memory_spark.operators import search_service as SVC

    docs = load_table(spark, sf, "documents").select(
        F.col("doc_id").alias("id"), F.col("text").alias("content")
    )
    req = SVC.SearchRequest(
        query="content:spark OR content:merge",
        min_relevance=0.3, offset=5, limit=20,
        node_weights={"node-a": 1.0, "node-b": 0.9},
        max_results_per_node=1 << 20,
    )
    out = SVC.search(
        spark, {"node-a": docs, "node-b": docs}, req,
        id_col="id", text_col="content",
    )
    return out.select("record_id", "relevance")


def fts_index_topk(spark, sf):
    """T2 at scale: write-once persisted FTS postings index (SqliteFtsIndex
    analog — term-bucket hive partitions, pruned probes, stats table), then
    BM25 top-k from the index. Must score identically to the per-query
    bm25_topk path, so it shares that oracle's SQL."""
    import tempfile

    from kernel_memory_spark.operators import search_text as ST
    from kernel_memory_spark.sources.tables import TableCatalog

    docs = load_table(spark, sf, "documents")
    cat = TableCatalog(_query_tmpdir("kms_fts_"))
    ST.build_fts_index(spark, cat, docs)
    return (
        ST.query_fts_index(spark, cat, ["spark", "vector", "merge"], k=1 << 20)
        .select("doc", F.round("score", 3).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc"))
        .limit(10)
    )


def fts_upsert_topk(spark, sf):
    """Incremental FTS maintenance at the oracle level (SqliteFtsIndex
    IndexAsync semantics, src/Core/Search/SqliteFtsIndex.cs:81-142): build
    the postings index on the even-id half of the corpus, upsert the odd
    half PLUS a re-delivered slice of already-indexed docs, then query.
    Must score identically to one full build over the whole corpus — the
    oracle is the same whole-corpus BM25 SQL as fts_index_topk, so a
    hash-match proves postings replacement AND the incrementally-bumped
    stats header both converged exactly."""
    import tempfile

    from kernel_memory_spark.operators import search_text as ST
    from kernel_memory_spark.sources.tables import TableCatalog

    docs = load_table(spark, sf, "documents")
    cat = TableCatalog(_query_tmpdir("kms_ftsu_"))
    ST.build_fts_index(spark, cat, docs.filter(F.col("doc_id") % 2 == 0))
    redelivered = docs.filter(F.col("doc_id") % 100 == 0)  # already indexed
    ST.upsert_fts_index(
        spark, cat,
        docs.filter(F.col("doc_id") % 2 == 1).unionByName(redelivered),
    )
    return (
        ST.query_fts_index(spark, cat, ["spark", "vector", "merge"], k=1 << 20)
        .select("doc", F.round("score", 3).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc"))
        .limit(10)
    )


def search_snippets(spark, sf):
    """Snippet derivation (SqliteFtsIndex.cs:168 snippet() + :231 match-all
    substr path): windowed excerpt around the first query-term match with
    '...' truncation markers, substr fallback for unmatched docs."""
    from kernel_memory_spark.operators import search_text as ST

    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        ST.snippet_expr("text", ["spark", "merge"], n_tokens=32).alias(
            "snippet"
        ),
    )


def hybrid_search_topk(spark, sf):
    """Hybrid retrieval: BM25 + vector cosine fused by the weighted
    diminishing rerank (same-record-multiple-indexes,
    WeightedDiminishingReranker.cs:9-17). Records = embeddings joined to
    documents; query text 'spark merge', query vector = embedding of
    vec_id 0."""
    from kernel_memory_spark.operators import search_service as SVC

    emb_t = load_table(spark, sf, "embeddings")
    docs = load_table(spark, sf, "documents")
    recs = emb_t.join(docs, emb_t.vec_id == docs.doc_id).select(
        F.format_string("rec-%05d", F.col("vec_id")).alias("id"),
        F.col("embedding").alias("vector"),
        F.struct(F.col("text").alias("text")).alias("payload"),
    )
    qvec = [float(x) for x in emb_t.filter(F.col("vec_id") == 0).first().embedding]
    # 1000 >> the sf row count, so neither index path is cut (the oracle
    # replays uncut paths), while the top-k heaps stay small
    return SVC.hybrid_search(
        recs, "spark merge", qvec, k=20, min_relevance=0.0,
        max_results_per_index=1000,
    )


def sessionized_events(spark, sf):
    """Gap-based sessionization (30-min gap) + per-session rollup: one
    user-partitioned window (lag + conditional cumsum), no joins."""
    from kernel_memory_spark.operators import sessions as SESS

    e = load_table(spark, sf, "events")
    s = SESS.sessionize(e, gap_seconds=1800)
    return SESS.session_stats(s).select(
        "user_id", "session_n", "n_events", "duration_sec"
    ).orderBy("user_id", "session_n")


def html_decode_docs(spark, sf):
    """S2's decoder half (HtmlDecoder.cs:48-59): wrap each document in a
    deterministic HTML shell (tags, comment, style+script blocks, entity)
    and decode back to text with the SQL-replayable column pipeline."""
    from kernel_memory_spark.functions import html as HTML

    docs = load_table(spark, sf, "documents")
    page = F.format_string(
        "<html><head><style>p{margin:0}</style></head><body>"
        "<h1>Doc %s</h1><!-- generated --><p>%s &amp; more</p>"
        "<script>var x = '<b>';</script></body></html>",
        F.col("doc_id").cast("string"), F.col("text"),
    )
    return docs.select(
        "doc_id", HTML.html_to_text_expr(page).alias("decoded")
    )


def pii_scrub_docs(spark, sf):
    """Training-corpus PII scrub: deterministic synthetic PII appended to
    each document, then the typed-placeholder redaction chain."""
    from kernel_memory_spark.operators import cleaning as CL

    docs = load_table(spark, sf, "documents")
    seeded = docs.withColumn(
        "text",
        F.format_string(
            "%s contact user%d@example.com or +1 (555) 010-%04d"
            " at 10.0.%d.%d ref %d",
            F.col("text"), F.col("doc_id"),
            F.pmod(F.col("doc_id"), F.lit(10000)),
            F.pmod(F.col("doc_id"), F.lit(256)),
            F.pmod(F.col("doc_id") + 7, F.lit(256)),
            F.col("doc_id") * 1000003 + 123456789,
        ),
    )
    return CL.pii_scrub(seeded).select("doc_id", "text_scrubbed")


def decontam_overlap(spark, sf):
    """Benchmark decontamination: count distinct 8-gram overlaps of every
    document against the 'benchmark' (documents 0-4)."""
    from kernel_memory_spark.operators import cleaning as CL

    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") < 5).select("text")
    return CL.decontaminate(docs, bench, n=8).orderBy("doc_id")


def repetition_docs(spark, sf):
    """Gopher repetition signals over a constructed multi-line corpus
    (first-5-words line duplicated around the body)."""
    from kernel_memory_spark.operators import cleaning as CL

    docs = load_table(spark, sf, "documents")
    line1 = F.array_join(
        F.slice(F.split(F.col("text"), r"\s+"), 1, 5), " "
    )
    multi = docs.select(
        "doc_id", F.concat_ws("\n", line1, F.col("text"), line1).alias("text")
    )
    s = CL.repetition_stats(multi)
    return s.select(
        "doc_id",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        F.round("top_bigram_char_frac", 6).alias("top_bigram_char_frac"),
    ).orderBy("doc_id")


def asof_purchase_attribution(spark, sf):
    """As-of join (custom operator, union + ordered window — one shuffle):
    attribute each purchase event to the user's most recent click
    at-or-before it."""
    from kernel_memory_spark.operators.asof import asof_join

    e = load_table(spark, sf, "events").withColumn(
        "ts_s", F.col("ts").cast("timestamp").cast("long")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_s"), "event_id"
    )
    # dedupe clicks at the same (user, second): the as-of pick among
    # equal-timestamp right rows would otherwise be order-dependent
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts_s")
        .agg(F.max("event_id").alias("click_id"))
    )
    out = asof_join(
        purchases, clicks, ["user_id"], left_ts="ts_s", right_ts="ts_s",
    )
    return out.select(
        "event_id", "user_id",
        F.col("click_id_asof").alias("attributed_click"),
        F.col("matched_asof_ts").alias("click_ts_s"),
    ).orderBy("event_id")


def range_join_clicks(spark, sf):
    """Interval join via time-bucket blocking (no nested-loop join): clicks
    falling inside each signup's 2-hour onboarding window, per user."""
    from kernel_memory_spark.operators.ranges import range_join

    e = load_table(spark, sf, "events").withColumn(
        "ts_s", F.col("ts").cast("timestamp").cast("long")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts_s", F.col("event_id").alias("click_id")
    )
    windows = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts_s").alias("start_s"),
        (F.col("ts_s") + 7200).alias("end_s"),
        F.col("event_id").alias("signup_id"),
    )
    out = range_join(clicks, windows, keys=["user_id"], bucket_width=3600)
    return out.select("click_id", "signup_id").orderBy("click_id", "signup_id")


def time_rollup_events(spark, sf):
    """Hypertable-style continuous aggregate: hour/day/month rollups of the
    events table in ONE pass (exploded grain pairs -> one hash agg)."""
    from kernel_memory_spark.operators.ranges import time_rollup

    e = load_table(spark, sf, "events")
    return time_rollup(e, sum_col="value").orderBy(
        "grain", "bucket_start", "event_type"
    )


def stratified_sample_docs(spark, sf):
    """Deterministic training-mix sampling: per-language hash-fraction
    rates over documents (layout-independent: the same keys survive under
    any partitioning or corpus growth)."""
    from kernel_memory_spark.operators import sampling as SMP

    docs = load_table(spark, sf, "documents")
    got = SMP.stratified_sample(
        docs, "lang", "doc_id", {"en": 0.5, "de": 0.25}, default_fraction=0.1
    )
    return got.select("doc_id", "lang").orderBy("doc_id")


def weighted_sample_docs(spark, sf):
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis exponential race): 5 docs per language, selection
    probability proportional to n_chars — the importance-sampling step
    of a training mix."""
    from kernel_memory_spark.operators import sampling as SMP

    docs = load_table(spark, sf, "documents")
    got = SMP.weighted_sample(
        docs, "doc_id", "n_chars", k=5, strata_col="lang"
    )
    return got.select("doc_id", "lang", "n_chars")


def _docs_triples_with_mentions(spark, sf):
    """Lineage triples + (doc, mentions, word>=6 chars) value triples —
    a triple set with varying per-subject cardinality for shape checks."""
    docs = load_table(spark, sf, "documents")
    doc = F.format_string("doc-%09d", F.col("doc_id").cast("long"))
    words = F.array_distinct(
        F.filter(
            F.split(F.lower(F.trim("text")), r"\s+"),
            lambda w: F.length(w) >= 6,
        )
    )
    mentions = docs.select(
        doc.alias("subj"),
        F.lit("mentions").alias("pred"),
        F.explode(words).alias("obj"),
    )
    return lineage_triples_docs(spark, sf).unionByName(mentions)


def shacl_violations_docs(spark, sf):
    """SHACL-core shape validation over the document triples: mentions
    cardinality 1..4 (absence counts — SHACL minCount), lang restricted
    to ^(en|de|es)$, n_chars exactly-one and <= 3 digits; output is the
    per-(subj, pred) violation report the pipeline would gate a snapshot
    publish on."""
    from kernel_memory_spark.operators import kgschema as KS

    return KS.validate_shapes(
        _docs_triples_with_mentions(spark, sf),
        [
            {"pred": "mentions", "min_count": 1, "max_count": 4},
            {"pred": "n_chars", "min_count": 1, "max_count": 1,
             "pattern": "^[0-9]{1,3}$"},
            {"pred": "lang", "pattern": "^(en|de|es)$"},
        ],
    )


def rule_closure_orders(spark, sf):
    """Datalog-style ontology closure (semi-naive, early-exit): base
    facts order->customer->nation->region, rules for relation
    composition (order in_nation, anything in_region) and predicate
    inverse (nation has_member) — fixpoint reached in 2 rounds, third
    round derives nothing and exits."""
    from kernel_memory_spark.plans import rules as RL

    orders = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    base = (
        orders.select(
            F.format_string("o-%d", "o_orderkey").alias("subj"),
            F.lit("by_customer").alias("pred"),
            F.format_string("c-%d", "o_custkey").alias("obj"),
        )
        .unionByName(
            customer.select(
                F.format_string("c-%d", "c_custkey").alias("subj"),
                F.lit("in_nation").alias("pred"),
                F.format_string("n-%d", "c_nationkey").alias("obj"),
            )
        )
        .unionByName(
            nation.select(
                F.format_string("n-%d", "n_nationkey").alias("subj"),
                F.lit("in_region").alias("pred"),
                F.format_string("r-%d", "n_regionkey").alias("obj"),
            )
        )
    )
    return RL.infer(
        base,
        [
            ([("?o", "by_customer", "?c"), ("?c", "in_nation", "?n")],
             ("?o", "in_nation", "?n")),
            ([("?x", "in_nation", "?n"), ("?n", "in_region", "?r")],
             ("?x", "in_region", "?r")),
            ([("?c", "in_nation", "?n")],
             ("?n", "has_member", "?c")),
        ],
        max_rounds=3,
    )


def retention_cohorts_events(spark, sf):
    """Weekly cohort retention triangle over the event log: users
    bucketed by first-activity week, re-counted in each later active
    week — one distinct-reduce + two hash aggs, no windows."""
    from kernel_memory_spark.operators import sessions as SS

    ev = load_table(spark, sf, "events")
    out = SS.retention_cohorts(ev, "user_id", "ts", grain="week")
    # week-grain labels read as dates (and match DuckDB's date_trunc type)
    return out.select(
        F.col("cohort").cast("date").alias("cohort"),
        F.col("period").cast("date").alias("period"),
        "n_active", "n_cohort", "retention",
    )


def orders_snapshot_diff(spark, sf):
    """CDC between two table snapshots: old = orders, new = orders with
    keys %97 removed, totalprice bumped on keys %89, and %101 clones
    re-keyed as inserts — classified added/removed/changed with the
    differing columns listed, via ONE full-outer key join (changed_cols
    sorted array; unchanged rows dropped before leaving the join)."""
    from kernel_memory_spark.operators import diff as DF_

    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    new = (
        o.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 89 == 0,
                F.round(F.col("o_totalprice") + F.lit(1.0), 2),
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 101 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(1000000000)
            )
        )
    )
    out = DF_.table_diff(o, new, ["o_orderkey"])
    return out.select(
        "o_orderkey", "change",
        F.array_join("changed_cols", ",").alias("changed_cols"),
    )


def entity_fact_rank_docs(spark, sf):
    """Entity summarization: top-3 most informative facts per document
    subject by self-information ln(N/df) over the (pred, obj) fact
    distribution — rare mentions outrank corpus-wide lang/source tags."""
    from kernel_memory_spark.operators import kgschema as KS

    return KS.rank_facts(_docs_triples_with_mentions(spark, sf), k=3)


ASK_QUESTION = "what do these records say"
ASK_MAX_PROMPT_TOKENS = 1500
ASK_ANSWER_TOKENS = 300


def ask_prompt_facts(spark, sf):
    """Composed RAG ask chain (SearchClient.AskStreamingAsync:195-275 +
    ProcessMemoryRecord): KNN retrieval -> empty-skip -> dupe-fact skip ->
    FactTemplate render with P1 percent relevance -> strict token-budget
    prefix. Records = embeddings joined to documents; query vector = the
    unit-normalized embedding of vec_id 0 (oracle replays it)."""
    from kernel_memory_spark.operators import ask as ASK

    emb_t = load_table(spark, sf, "embeddings")
    docs = load_table(spark, sf, "documents")
    recs = emb_t.join(docs, emb_t.vec_id == docs.doc_id).select(
        F.format_string("rec-%05d", F.col("vec_id")).alias("id"),
        F.format_string("doc-%05d", F.col("doc_id")).alias("doc_id"),
        F.col("embedding").alias("vector"),
        F.struct(
            F.substring("text", 1, 120).alias("text"),
            F.format_string("doc-%05d.txt", F.col("doc_id")).alias("file"),
        ).alias("payload"),
    )
    qvec = [float(x) for x in emb_t.filter(F.col("vec_id") == 0).first().embedding]
    facts = ASK.ask_facts(
        recs, qvec, ASK_QUESTION,
        max_prompt_tokens=ASK_MAX_PROMPT_TOKENS,
        answer_tokens=ASK_ANSWER_TOKENS,
    )
    return facts.select(
        "id", "doc_id", F.round("relevance", 3).alias("relevance"),
        "fact", "token_count",
    ).orderBy(F.desc("relevance"), F.asc("id"))


def facts_token_budget(spark, sf):
    """A5: accumulate ranked facts while the running token total <= budget."""
    from kernel_memory_spark.operators import search_text as ST

    e = load_table(spark, sf, "events").select(
        "event_id", "value", F.length("props").alias("token_count")
    )
    return ST.take_within_token_budget(
        e, 4000, [F.desc("value"), F.asc("event_id")]
    ).select("event_id")


def summarize_docs(spark, sf):
    """A4 iterative map-reduce summarization through the production loop
    (chunk -> per-chunk summarize -> concat -> repeat while too long), with
    a truncation summarizer (the pluggable ITextGenerator stand-in) so the
    round is SQL-expressible: every sf document fits one 200-token chunk,
    so round 1 is `trim(substr(text, 1, 160))` (or the text unchanged when
    already <= 40 tokens) — hash-matched by the DuckDB oracle."""
    from kernel_memory_spark.operators.summarize import summarize

    docs = load_table(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return summarize(
        docs, target_tokens=40, chunk_tokens=200,
        summarizer=lambda text, max_chars: text[:max_chars],
    )


def kg_triples_sf(spark, sf):
    """Rows-only: the KG pipeline core (extract -> chunk -> mention/lineage
    triples) over the span corpus derived from the documents table."""
    corpus = corpus_from_documents(load_table(spark, sf, "documents"))
    extracted = EX.extract(corpus)
    # lazy localCheckpoint: the partition lineage (chunker pandas UDF) feeds
    # BOTH the lineage-triples branch and the mention-extraction branch of
    # the union below; without materialization each branch re-executes the
    # chunker (Spark does not share subtrees across union branches). The
    # checkpoint is computed fresh inside every invocation — nothing is
    # reused across runs.
    parts = PRT.partition(
        extracted, max_tokens=200, overlap=20
    ).localCheckpoint(eager=False)
    lineage = TRI.lineage_triples(parts, extracted, None, "sf")
    mentions = TRI.extract_mentions_df(parts)
    return lineage.unionByName(TRI.mention_triples(mentions, "sf"))


def _copurchase_edges(spark, sf):
    """Canonical undirected co-purchase graph over parts: two parts are
    linked iff they appear in the same order (the standard market-basket /
    KG co-occurrence construction; ~2000 nodes, ~116k edges at sf0.01).
    Per-order pair fan-out is bounded by order size, so edges grow
    linearly with lineitem."""
    from kernel_memory_spark.operators import graph as GR

    l = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a = l.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = l.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    raw = a.join(b, "ok").select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    )
    und = (
        raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )
    return und


def pagerank_copurchase(spark, sf):
    """Fixed-iteration PageRank over the part co-purchase graph (3
    iterations, d=0.85) — importance ranking of KG nodes."""
    from kernel_memory_spark.operators import graph as GR

    adj = GR.symmetrize(_copurchase_edges(spark, sf))
    pr = GR.pagerank(adj, iterations=3, damping=0.85)
    return pr.select(
        F.col("node").alias("part"), F.round("rank", 6).alias("rank")
    )


def triangle_counts_parts(spark, sf):
    """Degree-ordered per-node triangle counts over the co-purchase graph
    (graph cohesion / clustering signal)."""
    from kernel_memory_spark.operators import graph as GR

    t = GR.triangles_per_node(_copurchase_edges(spark, sf))
    return t.select(F.col("node").alias("part"), "n_triangles")


def khop_parts(spark, sf):
    """2-hop BFS neighborhood (min hop distance) from parts 0..2 over the
    co-purchase graph — the KG neighborhood-retrieval primitive."""
    from kernel_memory_spark.operators import graph as GR

    adj = GR.symmetrize(_copurchase_edges(spark, sf))
    sources = (
        load_table(spark, sf, "part")
        .filter(F.col("p_partkey") <= 2)
        .select("p_partkey")
    )
    out = GR.k_hop(adj, sources, k=2)
    return out.select(F.col("node").alias("part"), "dist")


def _repeat_copurchase_edges(spark, sf):
    """Sparser KG edge set for link-prediction/community entries: parts
    co-purchased in >= 2 distinct orders (single co-occurrences are noise
    for these ops; also keeps the AA wedge bound sum(deg^2) small)."""
    from kernel_memory_spark.operators import cooccur as CO

    l = load_table(spark, sf, "lineitem")
    pairs, _, _ = CO.cooccur_counts(l, "l_orderkey", "l_partkey")
    return pairs.filter(F.col("n_pairs") >= 2).select("src", "dst")


def adamic_adar_parts(spark, sf):
    """Adamic-Adar link prediction over the repeat co-purchase graph —
    ranked missing-edge candidates for KG completion."""
    from kernel_memory_spark.operators import graph as GR

    out = GR.adamic_adar(_repeat_copurchase_edges(spark, sf))
    return out.select(
        "u", "v", "n_common", F.round("score", 6).alias("score")
    )


def adamic_adar_capped(spark, sf):
    """Adamic-Adar with the hub-witness degree cap engaged (max_degree=4;
    graph degrees at this sf run 1-13, so the cap genuinely drops hubs):
    pins the documented drop-the-hub approximation semantics cross-engine
    — the oracle applies the identical `deg_w <= 4` filter on witnesses."""
    from kernel_memory_spark.operators import graph as GR

    out = GR.adamic_adar(
        _repeat_copurchase_edges(spark, sf), max_degree=4
    )
    return out.select(
        "u", "v", "n_common", F.round("score", 6).alias("score")
    )


def neighbor_jaccard_parts(spark, sf):
    """Jaccard-coefficient link prediction over the repeat co-purchase
    graph — set-overlap missing-edge candidates, the adamic_adar sibling
    (numerator from the same wedge join, denominator from full endpoint
    degrees)."""
    from kernel_memory_spark.operators import graph as GR

    out = GR.neighbor_jaccard(_repeat_copurchase_edges(spark, sf))
    return out.select(
        "u", "v", "n_common", F.round("jaccard", 6).alias("jaccard")
    )


def ktruss_parts(spark, sf):
    """Fixed-round 3-truss over the repeat co-purchase graph (2 support
    rounds): every surviving edge sits in >= 1 triangle among surviving
    edges — the edge-cohesion filter that drops triangle-free spokes
    k-core keeps."""
    from kernel_memory_spark.operators import graph as GR

    return GR.k_truss(
        _repeat_copurchase_edges(spark, sf), k=3, iterations=2
    )


def temporal_khop_parts(spark, sf):
    """Time-respecting 2-hop reachability from parts 0..2 over DATED
    co-purchase edges (edge ts = order date; paths must be
    non-decreasing in time) -> earliest arrival + fewest hops achieving
    it — the temporal-KG semantics plain khop_parts ignores."""
    from kernel_memory_spark.operators import graph as GR

    l = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    dated = l.join(o, l["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey", "l_partkey", "o_orderdate"
    )
    a, b = dated.alias("a"), dated.alias("b")
    e = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
            F.col("a.o_orderdate").alias("ts"),
        )
        .distinct()
    )
    sources = (
        load_table(spark, sf, "part")
        .filter(F.col("p_partkey") <= 2)
        .select("p_partkey")
    )
    out = GR.temporal_khop(e, sources, k=2)
    return out.select(F.col("node").alias("part"), "hops",
                      "earliest_arrival")


def harmonic_parts(spark, sf):
    """2-bounded harmonic centrality over the repeat co-purchase graph:
    per part, count of parts within 2 hops and sum of 1/dist — the
    truncated-closeness importance score (all roots exact at this sf;
    the `roots` sample parameter is the 10^10-node path)."""
    from kernel_memory_spark.operators import graph as GR

    adj = GR.symmetrize(_repeat_copurchase_edges(spark, sf))
    out = GR.harmonic_centrality(adj, k=2)
    return out.select(
        F.col("node").alias("part"),
        "n_reached",
        F.round("score", 6).alias("score"),
    )


def walk_counts_parts(spark, sf):
    """Length-3 walk counts (A^3 nonzeros) over the repeat co-purchase
    graph — the Katz/graph-kernel primitive, two join+sum rounds."""
    from kernel_memory_spark.operators import graph as GR

    adj = GR.symmetrize(_repeat_copurchase_edges(spark, sf))
    return GR.walk_counts(adj, k=3)


def scc_parts(spark, sf):
    """2-bounded strongly connected components over a DIRECTED version of
    the repeat co-purchase graph (each undirected pair oriented by the
    md5 parity of its key string, so the orientation replays in any
    engine): mutual-2-hop reachability pairs -> connected components;
    nodes in no mutual pair are singletons."""
    from kernel_memory_spark.operators import graph as GR

    rep = _repeat_copurchase_edges(spark, sf)
    key = F.md5(
        F.concat_ws(
            "|", F.col("src").cast("string"), F.col("dst").cast("string")
        )
    )
    flip = F.substring(key, 1, 1).isin(*list("89abcdef"))
    directed = rep.select(
        F.when(flip, F.col("dst")).otherwise(F.col("src")).alias("src"),
        F.when(flip, F.col("src")).otherwise(F.col("dst")).alias("dst"),
    )
    out = GR.scc_bounded(directed, k=2)
    return out.select(F.col("node").alias("part"), "scc_id")


def lpa_communities_parts(spark, sf):
    """Deterministic synchronous label-propagation communities (3 rounds,
    min-label tie-break) over the repeat co-purchase graph."""
    from kernel_memory_spark.operators import graph as GR

    out = GR.label_propagation(_repeat_copurchase_edges(spark, sf), 3)
    return out.select(F.col("node").alias("part"), "label")


def modularity_parts(spark, sf):
    """Newman modularity decomposition of the 3-round LPA communities
    over the repeat co-purchase graph — per-community contribution
    m_c/m - (d_c/2m)^2 (sum = Q), the measurement of whether the
    detected communities beat a random degree-preserving graph."""
    from kernel_memory_spark.operators import graph as GR

    rep = _repeat_copurchase_edges(spark, sf)
    labels = GR.label_propagation(rep, 3)
    return GR.modularity(rep, labels)


def conductance_parts(spark, sf):
    """Per-community conductance (cut / min(vol, 2m - vol)) of the
    3-round LPA communities — the boundary-leak measurement that
    complements modularity_parts on the same labels."""
    from kernel_memory_spark.operators import graph as GR

    rep = _repeat_copurchase_edges(spark, sf)
    labels = GR.label_propagation(rep, 3)
    return GR.conductance(rep, labels)


def novelty_docs(spark, sf):
    """Per-document 3-gram novelty: fraction of a document's distinct
    word trigrams found in NO other document — the rare-end complement
    of boilerplate detection for training-data selection."""
    from kernel_memory_spark.operators import cleaning as CL

    docs = load_table(spark, sf, "documents")
    return CL.ngram_novelty(docs, n=3)


def bcubed_dedup_docs(spark, sf):
    """B-cubed evaluation of the near-dup collapse clusters against the
    exact-text truth grouping — the element-weighted cluster metric that
    complements the pairwise blocking_quality report."""
    from kernel_memory_spark.operators import blocking as BL
    from kernel_memory_spark.operators import dedup as DD

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    both = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    pairs = minhash_lsh_dedup(spark, sf)
    pred = DD.collapse_duplicates(both, pairs).select(
        "id", F.col("canonical_id").alias("pred")
    )
    truth = both.join(
        both.groupBy("text").agg(F.min("doc_id").alias("t")), "text"
    ).select(F.col("doc_id").alias("id"), "t")
    return BL.bcubed(pred.join(truth, "id"), pred="pred", truth="t")


def sssp_parts(spark, sf):
    """Bounded-hop weighted shortest distances (3 Bellman-Ford rounds)
    from parts 0..2 over the repeat co-purchase graph, edge cost
    1/n_copurchases (stronger association = cheaper hop) — the weighted
    sibling of khop_parts."""
    from kernel_memory_spark.operators import cooccur as CO
    from kernel_memory_spark.operators import graph as GR

    l = load_table(spark, sf, "lineitem")
    pairs, _, _ = CO.cooccur_counts(l, "l_orderkey", "l_partkey")
    rep = pairs.filter(F.col("n_pairs") >= 2)
    w_edges = rep.select(
        "src", "dst", (F.lit(1.0) / F.col("n_pairs")).alias("w")
    ).unionByName(
        rep.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            (F.lit(1.0) / F.col("n_pairs")).alias("w"),
        )
    )
    sources = (
        load_table(spark, sf, "part")
        .filter(F.col("p_partkey") <= 2)
        .select("p_partkey")
    )
    out = GR.shortest_paths(w_edges, sources, 3, weight="w")
    return out.select(
        F.col("node").alias("part"), F.round("dist", 6).alias("dist")
    )


def hits_parts(spark, sf):
    """HITS hubs/authorities (Kleinberg 1999), 3 iterations, over the
    DIRECTED small-id -> large-id orientation of the co-purchase graph —
    the second classic KG importance ranking next to PageRank; the
    L2-normalized half-steps are mirrored exactly by the unrolled oracle
    CTE chain."""
    from kernel_memory_spark.operators import graph as GR

    out = GR.hits(_copurchase_edges(spark, sf), iterations=3)
    return out.select(
        F.col("node").alias("part"),
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


def clustering_coeff_parts(spark, sf):
    """Local clustering coefficient per node (Watts-Strogatz) over the
    co-purchase graph: 2T/(deg·(deg−1)) from the degree-ordered triangle
    counts — separates tight entity clusters from hub spokes."""
    from kernel_memory_spark.operators import graph as GR

    out = GR.clustering_coefficient(_copurchase_edges(spark, sf))
    return out.select(
        F.col("node").alias("part"),
        "deg",
        "n_triangles",
        F.round("lcc", 6).alias("lcc"),
    )


def kcore_parts(spark, sf):
    """3-round 3-core peel over the repeat co-purchase graph (fixed-round
    variant so the unrolled SQL mirror replays it; the to-convergence
    variant is pytest-gated against a reference implementation)."""
    from kernel_memory_spark.operators import graph as GR

    out = GR.k_core(_repeat_copurchase_edges(spark, sf), 3, iterations=3)
    return out.select(F.col("node").alias("part"))


def pagerank_warm_parts(spark, sf):
    """Incremental PageRank: 3 cold iterations, then 3 MORE warm-started
    from that snapshot — the refresh path after a graph delta. Because
    the sync update is a pure function of the previous vector, the result
    must equal a 6-iteration cold run exactly, and the oracle IS the
    6-iteration unrolled CTE: the driver hash-pins warm == cold."""
    from kernel_memory_spark.operators import graph as GR

    adj = GR.symmetrize(_copurchase_edges(spark, sf))
    snapshot = GR.pagerank(adj, iterations=3, damping=0.85)
    pr = GR.pagerank(adj, iterations=3, damping=0.85, init=snapshot)
    return pr.select(
        F.col("node").alias("part"), F.round("rank", 6).alias("rank")
    )


def transitive_closure_parts(spark, sf):
    """Bounded transitive closure by iterative doubling (2 rounds = all
    directed paths of <= 4 hops) over the small-id -> large-id oriented
    repeat co-purchase DAG — deep reachability in log-many self-joins
    (the complement of khop_parts' frontier BFS)."""
    from kernel_memory_spark.operators import graph as GR

    out = GR.transitive_closure(
        _repeat_copurchase_edges(spark, sf), doubling_rounds=2
    )
    return out.select("src", "dst")


def community_rollup_parts(spark, sf):
    """Graph summarization: LPA communities (3 rounds) collapsed to
    supernodes with between/within edge counts — the KG compression step
    before coarse-grained reasoning or visualization."""
    from kernel_memory_spark.operators import graph as GR

    out = GR.community_rollup(
        _repeat_copurchase_edges(spark, sf), iterations=3
    )
    return out.select(
        "c_src", "c_dst", "n_edges",
        F.col("n_intra").cast("long").alias("n_intra"),
    )


def scd2_orders(spark, sf):
    """SCD2 versioning of each customer's order stream (valid_from /
    valid_to / is_current from one keyed window) — the temporal-KG fact
    history the reference's last-write-wins upsert discards."""
    from kernel_memory_spark.operators import temporal as TP

    o = load_table(spark, sf, "orders")
    v = TP.scd2_versions(
        o, ["o_custkey"], "o_orderdate", tiebreak_cols=["o_orderkey"]
    )
    return v.select(
        "o_custkey", "o_orderkey", "o_orderstatus",
        "valid_from", "valid_to", "is_current",
    )


def orders_asof_snapshot(spark, sf):
    """Point-in-time KG snapshot: each customer's active order version as
    of 1995-06-17 (pure predicate over the SCD2 table — pushes down to
    row-group pruning when stored time-partitioned)."""
    from kernel_memory_spark.operators import temporal as TP

    o = load_table(spark, sf, "orders")
    v = TP.scd2_versions(
        o, ["o_custkey"], "o_orderdate", tiebreak_cols=["o_orderkey"]
    )
    snap = TP.as_of(v, "1995-06-17", ts_type="date")
    return snap.select("o_custkey", "o_orderkey", "o_orderstatus")


def scd2_upsert_orders(spark, sf):
    """Incremental SCD2 merge: version the pre-1996 orders, then fold the
    1996+ batch in with scd2_apply (touched keys re-windowed, untouched
    pass through one anti-join). The oracle is the FULL-recompute SQL —
    the driver hash-pins incremental == from-scratch."""
    from kernel_memory_spark.operators import temporal as TP

    o = load_table(spark, sf, "orders")
    cut = F.col("o_orderdate") < F.lit("1996-01-01").cast("date")
    initial = TP.scd2_versions(
        o.filter(cut), ["o_custkey"], "o_orderdate",
        tiebreak_cols=["o_orderkey"],
    )
    merged = TP.scd2_apply(
        initial, o.filter(~cut), ["o_custkey"], "o_orderdate",
        tiebreak_cols=["o_orderkey"],
    )
    return merged.select(
        "o_custkey", "o_orderkey", "o_orderstatus",
        "valid_from", "valid_to", "is_current",
    )


def event_transitions_events(spark, sf):
    """First-order Markov transition matrix over per-user event
    sequences (lead window + row-normalized counts) — the behavioral
    sequence-mining primitive."""
    from kernel_memory_spark.operators import sessions as SS

    ev = load_table(spark, sf, "events")
    return SS.event_transitions(ev)


def burst_events(spark, sf):
    """Burst detection: hourly per-type event counts z-scored against
    the trailing 24 observed buckets (baseline excludes the scored
    bucket; cold-start and zero-variance buckets are NULL)."""
    from kernel_memory_spark.operators import sessions as SS

    ev = load_table(spark, sf, "events")
    return SS.burst_scores(ev, grain="hour", trailing=24)


def graph_stats_parts(spark, sf):
    """One-row global audit of the repeat co-purchase graph: node/edge
    counts, density, degree moments, and Newman degree assortativity —
    the summary read before choosing partitioning and skew strategy."""
    from kernel_memory_spark.operators import graph as GR

    return GR.graph_stats(_repeat_copurchase_edges(spark, sf))


def funnel_events(spark, sf):
    """Ordered view -> click -> purchase funnel per user: earliest step-i
    time strictly after step i-1; N conditional min-aggregates on the
    user key, no windows, no per-user sort."""
    from kernel_memory_spark.operators import sessions as SN

    e = load_table(spark, sf, "events")
    return SN.funnel(e, ["view", "click", "purchase"])


def predicate_stats_docs(spark, sf):
    """KG schema discovery: per-predicate functionality / inverse
    functionality (PARIS statistics) over the document lineage triples —
    which predicates are key-like and safe to merge entities on."""
    from kernel_memory_spark.operators import kgschema as KS

    return KS.predicate_stats(lineage_triples_docs(spark, sf))


def bgp_match_docs(spark, sf):
    """SPARQL-style basic-graph-pattern query over the lineage triples:
    { ?d lang 'en' . ?d source ?src . ?d n_chars ?n } compiled into
    filtered scans + equi-joins (join order / broadcast left to Catalyst
    + AQE) — the conjunctive query primitive of a triple-modelled KG."""
    from kernel_memory_spark.plans.bgp import bgp_match

    t = lineage_triples_docs(spark, sf)
    return bgp_match(
        t,
        [
            ("?d", "lang", "en"),
            ("?d", "source", "?src"),
            ("?d", "n_chars", "?n"),
        ],
    )


def meta_block_docs(spark, sf):
    """Meta-blocking ER candidates over 5-word shingle blocks: block
    purging at 50 docs, CBS weight >= 2, node-centric top-3 pruning —
    the comparison-matrix reducer for dirty KG merges (the planted
    near-dups surface with shingle weights 50-90; unrelated docs share
    almost no capped shingle)."""
    from kernel_memory_spark.operators import blocking as BL

    return BL.meta_block(
        _shingle_assign(spark, sf),
        max_block_size=50, min_common_blocks=2, top_k=3,
    )


def _shingle_assign(spark, sf):
    docs = load_table(spark, sf, "documents")
    ws = F.split(F.lower(F.trim("text")), r"\s+")
    # sequence(1, 0) yields a DESCENDING [1, 0] in Spark, so short docs
    # need the explicit empty-array branch
    shingles = F.expr(
        "CASE WHEN size(__ws) >= 5 THEN"
        " transform(sequence(1, size(__ws) - 4),"
        " i -> array_join(slice(__ws, i, 5), ' '))"
        " ELSE array() END"
    )
    return docs.withColumn("__ws", ws).select(
        F.col("doc_id").alias("entity"),
        F.explode(shingles).alias("block"),
    )


def blocking_quality_docs(spark, sf):
    """Blocking evaluation: the pruned meta-blocking candidate set scored
    against a high-recall weighted truth set (shingle weight >= 20, cap
    500) — pairs completeness (recall of the comparison set) and
    reduction ratio (fraction of the quadratic matrix avoided)."""
    from kernel_memory_spark.operators import blocking as BL

    assign = _shingle_assign(spark, sf)
    cand = BL.meta_block(
        assign, max_block_size=50, min_common_blocks=2, top_k=3
    )
    truth = BL.meta_block(
        assign, max_block_size=500, min_common_blocks=20
    )
    docs = load_table(spark, sf, "documents")
    return BL.blocking_quality(cand, truth, docs)


def er_match_scores_docs(spark, sf):
    """Record-linkage comparison stage: meta-blocked candidate doc pairs
    scored with token-jaccard + capped-prefix levenshtein + length-ratio
    features, combined Fellegi-Sunter-style into match/possible/non_match
    tiers."""
    from kernel_memory_spark.operators import blocking as BL
    from kernel_memory_spark.operators import matching as MT

    cand = BL.meta_block(
        _shingle_assign(spark, sf),
        max_block_size=50, min_common_blocks=2, top_k=3,
    )
    docs = load_table(spark, sf, "documents")
    return MT.match_scores(cand, docs)


def sorted_neighborhood_docs(spark, sf):
    """Sorted-neighborhood ER candidates: docs ordered by their first 20
    normalized chars (doc_id tiebreak), each compared with the next 2 in
    rank order — the sort-based complement to meta_block's hash blocks."""
    from kernel_memory_spark.operators import blocking as BL

    docs = load_table(spark, sf, "documents")
    return BL.sorted_neighborhood(
        docs,
        "doc_id",
        F.substring(F.lower(F.trim("text")), 1, 20),
        window=3,
    )


def type_hierarchy_parts(spark, sf):
    """Instance-based type-hierarchy inference (statistical schema
    induction): entity=part, types = {p_type, p_brand, p_type/p_brand
    composite}; strict containment recovers the composite -> type and
    composite -> brand subsumption DAG from instances alone."""
    from kernel_memory_spark.operators import kgschema as KS

    p = load_table(spark, sf, "part")
    assign = (
        p.select(F.col("p_partkey").alias("entity"),
                 F.col("p_type").alias("type"))
        .unionByName(
            p.select(F.col("p_partkey").alias("entity"),
                     F.col("p_brand").alias("type"))
        )
        .unionByName(
            p.select(
                F.col("p_partkey").alias("entity"),
                F.concat_ws("/", "p_type", "p_brand").alias("type"),
            )
        )
    )
    return KS.type_subsumption(assign, tolerance=0.0)


def truth_discovery_orders(spark, sf):
    """Majority-vote conflict resolution: each customer's orders assert a
    (possibly different) status; resolve one winner per customer with
    deterministic tie-break and report how contested the fact was."""
    from kernel_memory_spark.operators import kgschema as KS

    o = load_table(spark, sf, "orders")
    t = o.select(
        F.col("o_custkey").alias("subj"),
        F.lit("status").alias("pred"),
        F.col("o_orderstatus").alias("obj"),
    )
    return KS.resolve_conflicts(t)


def property_table_docs(spark, sf):
    """RDF property-table pivot: the lineage triples flattened to one row
    per document with a column per predicate (one conditional hash agg —
    no per-predicate joins, no pivot metadata scan)."""
    from kernel_memory_spark.operators import kgschema as KS

    return KS.property_table(
        lineage_triples_docs(spark, sf), ["lang", "source", "n_chars"]
    )


def token_shards_docs(spark, sf):
    """Contiguous token-budget export shards: exclusive global running
    token sum (range-partitioned two-phase cumsum, no single-task window)
    cut every 2000 tokens."""
    from kernel_memory_spark.operators import packing as PK

    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    out = PK.shard_by_budget(docs, "n_tokens", "doc_id", budget=2000)
    return out.select("doc_id", "n_tokens", "shard").orderBy("doc_id")


def temperature_mix_docs(spark, sf):
    """Temperature-weighted mix (alpha=0.5) over a skewed length-bucket
    stratum: tail buckets up-weighted, hash-deterministic kept-set."""
    from kernel_memory_spark.operators import sampling as SMP

    docs = load_table(spark, sf, "documents").withColumn(
        "len_bucket", F.floor(F.col("n_chars") / 100).cast("int")
    )
    out = SMP.temperature_mix(
        docs, "len_bucket", "doc_id", alpha=0.5, target_frac=0.5
    )
    return out.select("doc_id", "len_bucket").orderBy("doc_id")


def pmi_copurchase_edges(spark, sf):
    """PMI-weighted co-occurrence edges over the part co-purchase baskets
    (KG edge weighting: pairs co-occurring above chance float, incidental
    pairs sink)."""
    from kernel_memory_spark.operators import cooccur as CO

    l = load_table(spark, sf, "lineitem")
    out = CO.pmi_edges(l, "l_orderkey", "l_partkey", min_pairs=2)
    return out.select(
        "src", "dst", "n_pairs", F.round("pmi", 6).alias("pmi")
    )


def pmi_index_edges(spark, sf):
    """Incremental co-occurrence maintenance at the oracle level: fold the
    even-orderkey baskets into a persisted count index, then the odd half,
    then answer PMI from the INDEX alone (no corpus re-scan). The oracle is
    the same one-shot whole-corpus PMI SQL as pmi_copurchase_edges — a
    hash-match proves the additive pair/marginal/basket folds converged
    exactly to the full rebuild."""
    import tempfile

    from kernel_memory_spark.operators import cooccur as CO
    from kernel_memory_spark.sources.tables import TableCatalog

    l = load_table(spark, sf, "lineitem")
    cat = TableCatalog(_query_tmpdir("kms_coocc_"))
    for batch in (
        l.filter(F.col("l_orderkey") % 2 == 0),
        l.filter(F.col("l_orderkey") % 2 == 1),
    ):
        CO.upsert_cooccur_index(
            spark, cat, "cp", batch, "l_orderkey", "l_partkey"
        )
    out = CO.pmi_from_index(spark, cat, "cp", min_pairs=2)
    return out.select(
        "src", "dst", "n_pairs", F.round("pmi", 6).alias("pmi")
    )


def neighbor_mean_embeddings(spark, sf):
    """One round of neighborhood feature smoothing over a deterministic
    chain+skip graph on the embeddings table (GNN aggregation primitive;
    exploded (node, pos, val) output is engine-neutral)."""
    from kernel_memory_spark.operators import graph as GR

    emb = load_table(spark, sf, "embeddings")
    ids = emb.select("vec_id")
    chain = (
        emb.select(
            F.col("vec_id").alias("src"),
            (F.col("vec_id") + 1).alias("dst"),
        )
        .unionByName(
            emb.select(
                F.col("vec_id").alias("src"),
                (F.col("vec_id") + 2).alias("dst"),
            )
        )
        .join(ids.select(F.col("vec_id").alias("dst")), "dst")
    )
    edges = GR.symmetrize(chain)
    out = GR.neighbor_mean(edges, emb, "vec_id", "embedding")
    return out.select(
        "node", "pos", F.round("mean_val", 6).alias("mean_val")
    )


def tfidf_keywords_docs(spark, sf):
    """Per-document top-5 TF-IDF keywords (machine-derived tags for the
    memory records)."""
    from kernel_memory_spark.operators import keywords as KW

    docs = load_table(spark, sf, "documents")
    return KW.tfidf_top_terms(docs, "doc_id", "text", k=5)


def quota_cap_docs(spark, sf):
    """Per-source quota cap (15 of 25 per source): hash-ordered
    deterministic kept-set, layout-independent."""
    from kernel_memory_spark.operators import sampling as SMP

    docs = load_table(spark, sf, "documents")
    out = SMP.quota_cap(docs, "source", "doc_id", max_per_source=15)
    return out.select("doc_id", "source").orderBy("doc_id")


def dedup_collapse_docs(spark, sf):
    """Near-dup group collapse: MinHash-LSH pairs -> transitive closure
    (CC) -> canonical elect (min id); singletons map to themselves."""
    from kernel_memory_spark.operators import dedup as DD

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    both = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    pairs = minhash_lsh_dedup(spark, sf)
    return DD.collapse_duplicates(both, pairs).orderBy("id")


def dense_node_ids(spark, sf):
    """Distributed zipWithIndex: contiguous 0-based dense ids over the
    co-purchase node set (KG export remap), no single-task window."""
    from kernel_memory_spark.operators import packing as PK
    from kernel_memory_spark.operators import graph as GR

    nodes = (
        GR.symmetrize(_copurchase_edges(spark, sf))
        .select(F.col("src").alias("node"))
        .distinct()
    )
    return PK.global_rank(nodes, "node").select(
        F.col("node").alias("part"), "idx"
    )


def degree_histogram_parts(spark, sf):
    """Degree distribution of the co-purchase KG (scale-audit primitive:
    the skew profile that decides salting/cap parameters)."""
    from kernel_memory_spark.operators import graph as GR

    adj = GR.symmetrize(_copurchase_edges(spark, sf))
    deg = adj.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("degree")
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


def profile_documents(spark, sf):
    """One-pass per-column profile of the documents table (null rate,
    cardinality, range — the corpus-audit primitive)."""
    from kernel_memory_spark.operators import profile as PR

    docs = load_table(spark, sf, "documents")
    return PR.profile_table(
        docs, ["doc_id", "lang", "source", "n_chars"]
    )


def cms_lineitem(spark, sf):
    """Count-Min Sketch frequency estimates: a 4x512 counter table built
    over lineitem part keys (constant size regardless of cardinality),
    point-estimated for parts 0..49 next to the exact counts — the
    one-sided-error sketch contract (est >= true), md5-replayable in any
    engine."""
    from kernel_memory_spark.operators import sketch as SK

    l = load_table(spark, sf, "lineitem")
    cms = SK.count_min_build(l, "l_partkey", depth=4, width=512)
    keys = (
        load_table(spark, sf, "part")
        .filter(F.col("p_partkey") <= 49)
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    est = SK.count_min_estimate(
        cms, keys, "l_partkey", depth=4, width=512
    )
    true = l.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("true_cnt")
    )
    return est.join(true, "l_partkey", "left").select(
        F.col("l_partkey").alias("part"),
        F.coalesce("true_cnt", F.lit(0)).cast("long").alias("true_cnt"),
        "est_cnt",
    )


def bloom_probe_customers(spark, sf):
    """Bloom-filter membership (4096 bits, 3 md5 hashes) over the set of
    customers WITH orders, probed for EVERY customer, next to the exact
    membership — pins the no-false-negative contract and the exact
    false-positive set cross-engine (the bit table is md5-replayable)."""
    from kernel_memory_spark.operators import sketch as SK

    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    members = o.select(F.col("o_custkey").alias("k")).distinct()
    bloom = SK.bloom_build(members, "k", n_bits=4096, n_hashes=3)
    probed = SK.bloom_probe(
        bloom,
        c.select(F.col("c_custkey")),
        "c_custkey",
        n_bits=4096,
        n_hashes=3,
    )
    return probed.join(
        members.select(
            F.col("k").alias("c_custkey"), F.lit(True).alias("is_member")
        ),
        "c_custkey",
        "left",
    ).select(
        "c_custkey",
        "maybe_member",
        F.coalesce("is_member", F.lit(False)).alias("is_member"),
    )


def cms_join_size_est(spark, sf):
    """Join-cardinality estimation from two Count-Min sketches (counter
    inner product, min over rows — Cormode & Muthukrishnan §4.2): the
    planning statistic for |orders ⋈ customer| computed WITHOUT scanning
    either side at plan time, next to the true join size."""
    from kernel_memory_spark.operators import sketch as SK

    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    sa = SK.count_min_build(o, "o_custkey", depth=4, width=512)
    sb = SK.count_min_build(c, "c_custkey", depth=4, width=512)
    est = SK.cms_join_size(sa, sb, depth=4)
    true = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .agg(F.count(F.lit(1)).cast("long").alias("true_join_size"))
    )
    return est.crossJoin(true)


def hll_orders(spark, sf):
    """HyperLogLog distinct-customer estimate over orders (2^9
    registers, md5-replayable ranks) next to the exact distinct count —
    the constant-memory cardinality sketch, register construction and
    small-range correction pinned cross-engine."""
    from kernel_memory_spark.operators import sketch as SK

    o = load_table(spark, sf, "orders")
    regs = SK.hll_build(o, "o_custkey", p=9)
    est = SK.hll_estimate(regs, p=9)
    true = o.agg(
        F.countDistinct("o_custkey").cast("long").alias("true_distinct")
    )
    return est.crossJoin(true)


def skyline_orders(spark, sf):
    """2-D skyline of (order date, total price), both minimized — the
    record-low price frontier over time, computed with the
    range-partition + broadcast-prefix-minima pattern (no single-task
    global window)."""
    from kernel_memory_spark.operators import ranges as RG

    o = load_table(spark, sf, "orders")
    return RG.skyline_2d(o, "o_orderdate", "o_totalprice")


def cube_orders(spark, sf):
    """Full CUBE over order status x priority with grouping-id
    disambiguation: all 4 grouping sets in ONE shuffle (Catalyst Expand +
    single hash aggregate), the OLAP rollup shape."""
    from kernel_memory_spark.operators import ranges as RG

    o = load_table(spark, sf, "orders").select(
        "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    return RG.cube_counts(
        o, ["o_orderstatus", "o_orderpriority"], sum_col="o_totalprice"
    )


def quantiles_orders(spark, sf):
    """Exact per-priority order-value quantiles (p25/p50/p90/p99,
    discrete semantics): collapses to (group, value, count) FIRST so the
    ranking window runs over distinct values, not rows."""
    from kernel_memory_spark.operators import profile as PR

    o = load_table(spark, sf, "orders")
    out = PR.group_quantiles(
        o, ["o_orderpriority"], "o_totalprice", [0.25, 0.5, 0.9, 0.99]
    )
    return out.select(
        "o_orderpriority", "q", F.round("value", 2).alias("value"), "n"
    )


def ppr_parts(spark, sf):
    """Personalized PageRank from seed parts 0..4 (3 iterations): 'entities
    related to X' relevance over the co-purchase KG."""
    from kernel_memory_spark.operators import graph as GR

    adj = GR.symmetrize(_copurchase_edges(spark, sf))
    seeds = (
        load_table(spark, sf, "part")
        .filter(F.col("p_partkey") <= 4)
        .select("p_partkey")
    )
    pr = GR.personalized_pagerank(adj, seeds, iterations=3, damping=0.85)
    return pr.select(
        F.col("node").alias("part"), F.round("rank", 6).alias("rank")
    )


def pagerank_weighted_pmi(spark, sf):
    """WEIGHTED PageRank over positive-PMI co-occurrence edges (3
    iterations): edge strength modulates the random walk — the composed
    cooccur -> graph flow."""
    from kernel_memory_spark.operators import cooccur as CO
    from kernel_memory_spark.operators import graph as GR

    l = load_table(spark, sf, "lineitem")
    und = (
        CO.pmi_edges(l, "l_orderkey", "l_partkey", min_pairs=2)
        .filter(F.col("pmi") > 0)
        .select("src", "dst", F.col("pmi").alias("wt"))
    )
    adj = und.unionByName(
        und.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "wt"
        )
    )
    pr = GR.pagerank(adj, iterations=3, damping=0.85, weight="wt")
    return pr.select(
        F.col("node").alias("part"), F.round("rank", 6).alias("rank")
    )


def link_graph_docs(spark, sf):
    """Web-link-graph extraction: deterministic HTML built around each
    document, hyperlinks pulled with the regex-only column pipeline
    (functions/html.html_links_expr) -> (doc_id, href, anchor) edges."""
    from kernel_memory_spark.functions import html as HT

    docs = load_table(spark, sf, "documents")
    page = docs.withColumn(
        "html",
        F.concat(
            F.lit('<p>See <a href="/doc/'),
            (F.col("doc_id") % 100).cast("string"),
            F.lit('">ref one</a> and <A HREF="/doc/'),
            ((F.col("doc_id") + 7) % 100).cast("string"),
            F.lit('">ref two</a></p>'),
            F.col("text"),
        ),
    )
    return (
        page.select(
            "doc_id", F.explode(HT.html_links_expr("html")).alias("l")
        )
        .select("doc_id", F.col("l.href").alias("href"),
                F.col("l.anchor").alias("anchor"))
        .orderBy("doc_id", "href")
    )


def host_graph_docs(spark, sf):
    """Host-level link graph (the web-scale rollup of link_graph_docs):
    deterministic pages with two absolute cross-host links (mixed-case
    scheme/host + an explicit port) and one relative link, hrefs pulled
    by html_links_expr, authorities normalized by url_host_expr, rolled
    up to (src_host, dst_host, n_links) — relative links ('' host) must
    drop out."""
    from kernel_memory_spark.functions import html as HT

    docs = load_table(spark, sf, "documents")
    page = docs.withColumn(
        "html",
        F.concat(
            F.lit('<p><a href="http://h'),
            (F.col("doc_id") % 7).cast("string"),
            F.lit('.Example.com/a">x</a> <a href="HTTPS://h'),
            ((F.col("doc_id") + 3) % 7).cast("string"),
            F.lit('.example.com:8443/b?q=1">y</a>'),
            F.lit(' <a href="/doc/relative">z</a></p>'),
        ),
    ).withColumn(
        "src_host",
        F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".example.com")),
    )
    links = page.select(
        "src_host", F.explode(HT.html_links_expr("html")).alias("l")
    ).select("src_host", HT.url_host_expr(F.col("l.href")).alias("dst_host"))
    return (
        links.filter(F.col("dst_host") != "")
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").cast("long").alias("n_links"))
    )


def bigram_lm_docs(spark, sf):
    """Mean transition log-probability per document under a self-trained
    add-one bigram LM — the order-sensitive quality signal (word salad
    scores low even when its unigram frequencies look fluent)."""
    from kernel_memory_spark.operators import lm as LM

    docs = load_table(spark, sf, "documents")
    out = LM.bigram_logprob_scores(docs)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_bigrams",
        F.round("avg_logp", 6).alias("avg_logp"),
    )


def hot_keys_lineitem(spark, sf):
    """Top-20 heaviest l_partkey values with their share of all lineitem
    rows — the skew audit that decides salting/AQE-skew-hints before a
    join or aggregation on the key."""
    from kernel_memory_spark.operators import profile as PR

    l = load_table(spark, sf, "lineitem")
    return PR.hot_keys(l, "l_partkey", k=20)


def lm_quality_docs(spark, sf):
    """Mean unigram log-probability per document (self-trained add-one
    model — the corpus-statistical quality signal)."""
    from kernel_memory_spark.operators import lm as LM

    docs = load_table(spark, sf, "documents")
    out = LM.unigram_logprob_scores(docs)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        F.round("avg_logp", 6).alias("avg_logp"),
    )


def quantized_embeddings(spark, sf):
    """Symmetric int8 quantization of the embedding column (4x storage /
    shuffle cut for ANN) — integers are cross-engine bit-exact."""
    from kernel_memory_spark.functions import quant as Q

    emb = load_table(spark, sf, "embeddings")
    qs = emb.select("vec_id", Q.quantize_int8_expr("embedding").alias("qs"))
    return qs.select(
        "vec_id",
        F.col("qs.scale").alias("scale"),
        F.posexplode("qs.q").alias("pos", "q"),
    )


def embedding_gram(spark, sf):
    """Distributed Gram matrix X^T X of the embedding corpus (the
    d^2-cells-not-rows aggregation PCA/whitening start from): per-
    partition float64 numpy partials, summed by cell."""
    from kernel_memory_spark.operators import pca as P

    emb = load_table(spark, sf, "embeddings")
    g = P.gram_matrix(emb, "embedding", dim=64)
    return g.select("i", "j", F.round("value", 6).alias("value"))


def pca_project_embeddings(spark, sf):
    """PCA projection of the embedding corpus to k=8 (centered; fit =
    one Gram pass + one mean aggregate, project = broadcast matmul).
    Eigendecomposition is not SQL-expressible — rows-only driver check;
    numerical invariants are pinned in tests/test_pca.py."""
    from kernel_memory_spark.operators import pca as P

    emb = load_table(spark, sf, "embeddings")
    out = P.pca_project(emb, "embedding", k=8)
    return out.select("vec_id", "pca")


def boilerplate_ngrams_docs(spark, sf):
    """Cross-document boilerplate 5-grams (df >= 3): the repeated spans
    that survive per-doc dedup but poison training data."""
    from kernel_memory_spark.operators import cleaning as CL

    docs = load_table(spark, sf, "documents")
    return CL.boilerplate_ngrams(docs, n=5, min_df=3)


def random_walks_parts(spark, sf):
    """Deterministic hash-seeded random walks over the co-purchase graph
    (walks_per_node=2, length=3, neighbor_cap=8) — the DeepWalk/node2vec
    corpus generator, with the 100TB hub guard (static md5-ranked
    neighbor subsample) engaged and cross-engine-pinned."""
    from kernel_memory_spark.operators import graph as GR
    from kernel_memory_spark.operators import kg_train as KT

    adj = GR.symmetrize(_copurchase_edges(spark, sf))
    w = KT.random_walks(adj, walks_per_node=2, length=3, neighbor_cap=8)
    return w.select("walk_id", "start", "path")


def kg_negative_samples(spark, sf):
    """Filtered corrupted-tail negatives (Bordes et al. 2013) over the
    document lineage triples — the KG-embedding training-pair generator
    (k=2 hash-drawn tails per positive, true-triple collisions dropped)."""
    from kernel_memory_spark.operators import kg_train as KT

    return KT.negative_samples(lineage_triples_docs(spark, sf), k=2)


def line_dedup_docs(spark, sf):
    """C4-style cross-document line dedup (Raffel et al. 2020 §2.2 at
    line granularity): every distinct non-blank line survives only at
    its first (doc_id, pos) occurrence corpus-wide."""
    from kernel_memory_spark.operators import cleaning as CL

    docs = load_table(spark, sf, "documents")
    return CL.line_dedup(docs)


def assoc_rules_orders(spark, sf):
    """Directed association rules A -> B over the order baskets (Agrawal
    & Srikant 1994): support / confidence / lift for related-entity
    suggestion — the weighted upgrade of the reference's unweighted tag
    co-mention links (src/Core/Graph edge assembly). One within-basket
    self-join builds the unordered pair relation; both rule directions
    are derived from it without re-joining."""
    from kernel_memory_spark.operators import cooccur as CO

    l = load_table(spark, sf, "lineitem")
    out = CO.association_rules(
        l, "l_orderkey", "l_partkey", min_pair_count=3
    )
    return out.select(
        "antecedent",
        "consequent",
        "n_both",
        F.round("support", 6).alias("support"),
        F.round("confidence", 6).alias("confidence"),
        F.round("lift", 6).alias("lift"),
    )


def ranking_eval_events(spark, sf):
    """Batch retrieval-quality evaluation (NDCG@10 / MRR / P@10 per
    user): each user's events ranked by the system score (`value`)
    against graded relevance from the outcome type (purchase=2, click=1,
    else 0) — the search-eval surface the reference's SearchClient
    result assembly lacks; one exchange, two in-partition sorts."""
    from kernel_memory_spark.operators import ranking as RK

    e = load_table(spark, sf, "events").select(
        "user_id",
        "event_id",
        "value",
        F.when(F.col("event_type") == "purchase", 2)
        .when(F.col("event_type") == "click", 1)
        .otherwise(0)
        .alias("rel"),
    )
    out = RK.ranking_metrics(
        e, "user_id", "value", "rel", "event_id", k=10
    )
    return out.select(
        "user_id",
        "n_items",
        F.round("ndcg_at_k", 6).alias("ndcg_at_k"),
        F.round("mrr", 6).alias("mrr"),
        F.round("precision_at_k", 6).alias("precision_at_k"),
    )


def hyperanf_parts(spark, sf):
    """HyperANF neighborhood function over the co-purchase graph (Boldi,
    Rosa & Vigna 2011): per-node estimated ball sizes |B(v,h)| for
    h = 0..2 via HLL register propagation — the diameter/centrality
    primitive whose state is |V| x 32 registers instead of the |V|^2
    pair table an exact closure carries; md5-replayable registers, so
    the ESTIMATES (not just row counts) are pinned cross-engine."""
    from kernel_memory_spark.operators import graph as GR

    adj = GR.symmetrize(_copurchase_edges(spark, sf))
    out = GR.hyper_anf(adj, hops=2, p=5)
    return out.select(
        "h",
        F.col("node").alias("part"),
        F.round("est_ball", 6).alias("est_ball"),
    )


def dimsum_part_pairs(spark, sf):
    """DIMSUM all-pairs item-item cosine similarity (Zadeh & Goel 2013,
    the MLlib columnSimilarities estimator) over the customer x part
    quantity matrix: hot columns are down-sampled with probability
    sqrt(gamma)/||c|| and re-scaled so E[sum] = cosine — shuffle size
    independent of hot-column magnitude, the property that makes
    all-pairs similarity feasible at 10^12 rows. Deterministic md5
    coins, so the SAMPLED estimates are pinned next to the exact
    cosines (est >= 0.15)."""
    from kernel_memory_spark.operators import similarity as SIM

    l = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    r = l.join(o, l["l_orderkey"] == o["o_orderkey"]).select(
        "o_custkey", "l_partkey", "l_quantity"
    )
    est = SIM.column_similarities(
        r, "o_custkey", "l_partkey", "l_quantity",
        gamma=19600.0, min_sim=0.15,
    )
    exact = SIM.column_similarities(
        r, "o_custkey", "l_partkey", "l_quantity", gamma=None
    ).select("src", "dst", F.col("sim_est").alias("sim_exact"))
    return est.join(exact, ["src", "dst"]).select(
        "src",
        "dst",
        F.round("sim_est", 6).alias("sim_est"),
        F.round("sim_exact", 6).alias("sim_exact"),
    )


def landmark_dist_parts(spark, sf):
    """Landmark-sketch distance estimation (Potamias et al. 2009) over
    the repeat co-purchase graph: 8 md5-ranked landmarks, one L x |V|
    bounded BFS, then d(u,v) <= min_l d(u,l)+d(l,v) for all query pairs
    among parts <= 25 — next to the exact bounded distance, so the
    upper-bound contract (est >= exact, est = exact through a landmark)
    is pinned cross-engine."""
    from kernel_memory_spark.operators import graph as GR

    adj = GR.symmetrize(_repeat_copurchase_edges(spark, sf))
    nodes = adj.select("src").distinct()
    qn = nodes.filter(F.col("src") <= 25)
    # query workload: all pairs among <= 26 low-id parts — the small
    # side is broadcast, so this plans as a bounded BNLJ, never an
    # unbroadcast CartesianProduct
    pairs = (
        qn.select(F.col("src").alias("u"))
        .join(F.broadcast(qn.select(F.col("src").alias("v"))))
        .filter(F.col("u") < F.col("v"))
    )
    est = GR.landmark_distances(
        adj, pairs, n_landmarks=8, max_hops=3
    )
    exact = GR.bounded_distances(
        adj, qn.select(F.col("src").alias("u")), 3
    ).select(
        F.col("root").alias("u"),
        F.col("node").alias("v"),
        F.col("dist").alias("exact_dist"),
    )
    return est.join(exact, ["u", "v"], "left").select(
        "u", "v", "est_dist", "exact_dist"
    )


def gopher_gates_docs(spark, sf):
    """Gopher-style rule-based quality gates (Rae et al. 2021 Table A1
    subset) over the documents corpus: per-doc measurements + one
    boolean per gate + keep — the standard pre-training filter, one
    narrow scan, zero UDF (min_stopword_hits=1: the synthetic corpus'
    closed vocabulary carries at most one stopword per doc)."""
    from kernel_memory_spark.operators import textstats as TS

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return TS.gopher_gates(docs, min_stopword_hits=1).drop("text")


def frequent_triples_orders(spark, sf):
    """Frequent 3-itemsets over the order baskets (Apriori level 3 with
    anti-monotone pruning at L1 and L2): the classical market-basket /
    motif mining primitive — the prune is result-invariant, so the
    oracle is the plain three-way join."""
    from kernel_memory_spark.operators import cooccur as CO

    l = load_table(spark, sf, "lineitem")
    return CO.frequent_triples(
        l, "l_orderkey", "l_partkey", min_support=2
    )


def node2vec_walks_parts(spark, sf):
    """Second-order node2vec-biased walks (Grover & Leskovec 2016) over
    the co-purchase graph (2 walks/node, length 3, weights 2:4:8 ≡
    p=2, q=0.5, md5-ranked neighbor cap 8): the skip-gram corpus
    generator whose per-step bias depends on the PREVIOUS node —
    weighted choice realized as an exact integer-unit md5 draw (no
    transcendentals), so every chosen step replays bit-for-bit in the
    SQL mirror."""
    from kernel_memory_spark.operators import graph as GR
    from kernel_memory_spark.operators import kg_train as KT

    adj = GR.symmetrize(_copurchase_edges(spark, sf))
    return KT.node2vec_walks(
        adj, walks_per_node=2, length=3, neighbor_cap=8
    )


def fuzzy_name_pairs(spark, sf):
    """Blocked edit-distance fuzzy self-join over customer names
    (custkey < 500): 15-char prefix blocks + length band + levenshtein
    <= 1 — the classic typo-tolerant ER comparison, one equi-join on
    the block key, never all-pairs."""
    from kernel_memory_spark.operators import matching as MT

    c = load_table(spark, sf, "customer").filter(
        F.col("c_custkey") < 500
    )
    return MT.edit_distance_pairs(
        c, "c_custkey", "c_name",
        max_distance=1, block_len=15, len_band=1,
    )


def hll_group_suppliers(spark, sf):
    """Per-supplier approx-distinct part counts via grouped HyperLogLog
    (p=6: 64 registers per supplier regardless of cardinality), next to
    the exact distinct count — the approx-distinct-per-key table that
    replaces a per-group COUNT(DISTINCT) shuffle at 10^12 rows; both
    estimator branches (raw + linear counting) pinned cross-engine."""
    from kernel_memory_spark.operators import sketch as SK

    l = load_table(spark, sf, "lineitem")
    regs = SK.hll_build_grouped(l, "l_suppkey", "l_partkey", p=6)
    est = SK.hll_estimate_grouped(regs, "l_suppkey", p=6)
    true = l.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").cast("long").alias("true_distinct")
    )
    return est.join(true, "l_suppkey").select(
        "l_suppkey", "n_registers", "est_distinct", "true_distinct"
    )


def mad_outliers_orders(spark, sf):
    """Robust per-priority outlier profiling of order values via the
    Hampel identifier (median + MAD, k=3): the 50%-breakdown-point
    numeric quality gate — both medians exact discrete, so the verdicts
    replay engine-neutrally."""
    from kernel_memory_spark.operators import profile as PR

    o = load_table(spark, sf, "orders")
    out = PR.mad_outliers(
        o, ["o_orderpriority"], "o_totalprice", k=3.0
    )
    return out.select(
        "o_orderpriority",
        F.round("median", 2).alias("median"),
        F.round("mad", 2).alias("mad"),
        "n",
        "n_outliers",
    )


def assoc_rules_index(spark, sf):
    """Association rules served from the PERSISTED incremental
    co-occurrence index (two upsert folds, then rules with no corpus
    scan) — hash-matching the same whole-corpus oracle as
    assoc_rules_orders proves the additive folds converged exactly to
    the one-shot build."""
    import tempfile

    from kernel_memory_spark.operators import cooccur as CO
    from kernel_memory_spark.sources.tables import TableCatalog

    l = load_table(spark, sf, "lineitem")
    cat = TableCatalog(_query_tmpdir("kms_rules_"))
    for batch in (
        l.filter(F.col("l_orderkey") % 2 == 0),
        l.filter(F.col("l_orderkey") % 2 == 1),
    ):
        CO.upsert_cooccur_index(
            spark, cat, "cp", batch, "l_orderkey", "l_partkey"
        )
    out = CO.rules_from_index(spark, cat, "cp", min_pair_count=3)
    return out.select(
        "antecedent",
        "consequent",
        "n_both",
        F.round("support", 6).alias("support"),
        F.round("confidence", 6).alias("confidence"),
        F.round("lift", 6).alias("lift"),
    )


def effective_diameter_parts(spark, sf):
    """Interpolated effective diameter of the co-purchase graph from the
    HyperANF neighborhood function (Palmer 2002 / Boldi 2011): the
    smallest hop fraction covering 90% of reachable pairs — the whole
    post-propagation computation is a hops-row relation, driver-free."""
    from kernel_memory_spark.operators import graph as GR

    adj = GR.symmetrize(_copurchase_edges(spark, sf))
    out = GR.effective_diameter(adj, hops=2, p=5, q=0.9)
    return out.select(
        F.round("eff_diameter", 6).alias("eff_diameter"),
        F.round("n_pairs_max", 6).alias("n_pairs_max"),
    )


def winnow_docs(spark, sf):
    """MOSS winnowing fingerprints (Schleimer 2003) over documents with
    doc_id < 200: char-8-gram hashes, window-8 rightmost-min selection —
    the local fingerprint set guaranteeing any shared substring of
    length >= 15 yields a shared fingerprint; integer-packed argmin so
    selections replay exactly cross-engine."""
    from kernel_memory_spark.operators import textstats as TS

    docs = load_table(spark, sf, "documents").filter(
        F.col("doc_id") < 200
    )
    return TS.winnow_fingerprints(docs, k=8, w=8)


def hashed_tf_docs(spark, sf):
    """Feature-hashing sparse TF vectors (Weinberger 2009) over the
    documents corpus: signed 64-bucket hashing, per-doc L2
    normalization — the vocabulary-free, fit-free, pure-column text
    vectorizer (no dictionary broadcast at 10^12 docs), exact vectors
    pinned cross-engine."""
    from kernel_memory_spark.operators import embeddings as EM

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    out = EM.hashing_tf_sparse(docs, dim=64)
    return out.select(
        "doc_id", "pos", F.round("val", 6).alias("val")
    )


def rrf_fuse_customers(spark, sf):
    """Reciprocal Rank Fusion (Cormack 2009, k=60) of two customer
    rankings — total spend and order count: the score-free fusion that
    needs no cross-index calibration (the alternative to the weighted
    diminishing merge when scores aren't comparable). Top-20 fused."""
    from kernel_memory_spark.operators import search_service as SVC

    o = load_table(spark, sf, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("record_id")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("score")
    )
    cnt = o.groupBy(F.col("o_custkey").alias("record_id")).agg(
        F.count(F.lit(1)).cast("double").alias("score")
    )
    # pre-cut each list to its top-1000 (TakeOrdered) so rrf_fuse's
    # rank window is bounded by construction at any corpus size — the
    # retrieval contract: fusion consumes top-N lists, never full tables
    cut = lambda df: df.orderBy(
        F.desc("score"), F.asc("record_id")
    ).limit(1000)
    return SVC.rrf_fuse([cut(spend), cut(cnt)], k=20, rrf_k=60)


def katz_scores_parts(spark, sf):
    """Truncated Katz link-prediction index (beta=0.05, paths up to
    length 3) over the repeat co-purchase graph — Liben-Nowell &
    Kleinberg's strongest unsupervised predictor; beta^L inlined as
    driver-side literals so no libm pow() enters either engine."""
    from kernel_memory_spark.operators import graph as GR

    adj = GR.symmetrize(_repeat_copurchase_edges(spark, sf))
    out = GR.katz_index(adj, max_len=3, beta=0.05)
    return out.select(
        "src", "dst", F.round("katz", 9).alias("katz")
    )


def decayed_activity_users(spark, sf):
    """Per-user exponentially time-decayed activity score (half-life 7
    days, T = corpus max ts): the recency-weighted counter that replaces
    sliding-window recount jobs — one narrow scan + one map-combined
    aggregate, mergeable across batches at shared T."""
    from kernel_memory_spark.operators import temporal as TMP

    e = load_table(spark, sf, "events")
    out = TMP.decayed_scores(
        e, "user_id", "ts", "value", half_life_seconds=7 * 86400.0
    )
    return out.select(
        "user_id",
        "n_events",
        F.round("decayed_score", 6).alias("decayed_score"),
    )


def referential_sample_customers(spark, sf):
    """FK-consistent 10% co-sample of the customer/orders family: the
    same hash gate on c_custkey and o_custkey keeps every surviving
    order's FK resolvable WITHOUT joining or broadcasting a key set —
    the relational-corpus downscaling primitive; output is the sampled
    per-customer order rollup (customers with zero surviving orders
    included)."""
    from kernel_memory_spark.operators import sampling as SMP

    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    sc, kids = SMP.referential_sample(
        c, {"orders": (o, "o_custkey")}, "c_custkey", 0.10
    )
    so = kids["orders"]
    agg = so.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
    )
    return sc.select("c_custkey").join(agg, "c_custkey", "left").select(
        "c_custkey",
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
        F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
    )


def powerlaw_fit_parts(spark, sf):
    """Hill estimator of the co-purchase degree-distribution tail
    exponent (top-100 tail): the skew diagnostic that decides whether a
    graph needs salting (alpha < 2: unbounded mean degree) or AQE skew
    joins (alpha < 3) — one TakeOrdered + a 100-row aggregate."""
    from kernel_memory_spark.operators import graph as GR

    adj = GR.symmetrize(_copurchase_edges(spark, sf))
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    out = GR.powerlaw_tail_fit(deg, "degree", k_tail=100)
    return out.select(
        "k_tail", "d_min", F.round("alpha", 6).alias("alpha")
    )


def source_percentile_docs(spark, sf):
    """Within-source percentile rank of document length (percent_rank
    semantics, distinct-value window): the cross-source quality
    calibrator — mixing gates on the per-source percentile because raw
    scores aren't comparable across sources."""
    from kernel_memory_spark.operators import profile as PR

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "source", "n_chars"
    )
    out = PR.group_percentile_rank(
        docs, ["source"], "n_chars", out_col="pct_rank"
    )
    return out.select(
        "doc_id", "source", "n_chars",
        F.round("pct_rank", 6).alias("pct_rank"),
    )


def weighted_jaccard_docs(spark, sf):
    """IDF-weighted (soft) 3-gram Jaccard pairs: rare shared grams count
    more, boilerplate counts for almost nothing (Chowdhury 2002) — the
    weighted upgrade of ngram_dup_pairs over the same capped gram
    space; threshold compares the rounded ratio."""
    from kernel_memory_spark.operators import dedup as D

    pairs = D.weighted_jaccard_pairs(
        _docs_with_clones(spark, sf), threshold=0.5
    )
    return pairs.select(
        "a", "b", F.round("wjaccard", 6).alias("wjaccard")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Dict ORDER matters: the driver's correctness harness checks the first
    # 50 entries only.  ROUND-6 ROTATION (per the r5 verdict's #1): the 50
    # oracle-backed entries that have NEVER earned a driver CORRECTNESS row
    # occupy positions 1-50 (the r4/r5 group that fell outside every prior
    # window, then the round-5 session-B wave).  pca_project_embeddings
    # (rows-only by design, no oracle) sits at 51 so the window holds only
    # hash-checkable entries.  ROUND-7 QUEUE: facts_token_budget and
    # summarize_docs (driver-green r3, the oldest stale rows) lead the
    # remainder, followed by the r4-green search/dedup/km-v1 family;
    # kg_triples_sf stays rows-only by design (pandas-UDF chunker, no SQL
    # mirror).  The round-5-green wave sits at the tail: its rows are the
    # freshest.
    return {
        # --- r6 window: first driver exposure (positions 1-50) ---
        "bcubed_dedup_docs": bcubed_dedup_docs,
        "novelty_docs": novelty_docs,
        "dense_node_ids": dense_node_ids,
        "degree_histogram_parts": degree_histogram_parts,
        "graph_stats_parts": graph_stats_parts,
        "profile_documents": profile_documents,
        "cube_orders": cube_orders,
        "skyline_orders": skyline_orders,
        "cms_lineitem": cms_lineitem,
        "hll_orders": hll_orders,
        "bloom_probe_customers": bloom_probe_customers,
        "cms_join_size_est": cms_join_size_est,
        "quantiles_orders": quantiles_orders,
        "ppr_parts": ppr_parts,
        "pagerank_weighted_pmi": pagerank_weighted_pmi,
        "link_graph_docs": link_graph_docs,
        "host_graph_docs": host_graph_docs,
        "lm_quality_docs": lm_quality_docs,
        "bigram_lm_docs": bigram_lm_docs,
        "hot_keys_lineitem": hot_keys_lineitem,
        "quantized_embeddings": quantized_embeddings,
        "embedding_gram": embedding_gram,
        "boilerplate_ngrams_docs": boilerplate_ngrams_docs,
        "line_dedup_docs": line_dedup_docs,
        "random_walks_parts": random_walks_parts,
        "kg_negative_samples": kg_negative_samples,
        "ppjoin_docs": ppjoin_docs,
        "ann_quantized_topk": ann_quantized_topk,
        "assoc_rules_orders": assoc_rules_orders,
        "ranking_eval_events": ranking_eval_events,
        "hyperanf_parts": hyperanf_parts,
        "dimsum_part_pairs": dimsum_part_pairs,
        "landmark_dist_parts": landmark_dist_parts,
        "gopher_gates_docs": gopher_gates_docs,
        "frequent_triples_orders": frequent_triples_orders,
        "node2vec_walks_parts": node2vec_walks_parts,
        "fuzzy_name_pairs": fuzzy_name_pairs,
        "hll_group_suppliers": hll_group_suppliers,
        "mad_outliers_orders": mad_outliers_orders,
        "assoc_rules_index": assoc_rules_index,
        "effective_diameter_parts": effective_diameter_parts,
        "winnow_docs": winnow_docs,
        "hashed_tf_docs": hashed_tf_docs,
        "rrf_fuse_customers": rrf_fuse_customers,
        "katz_scores_parts": katz_scores_parts,
        "decayed_activity_users": decayed_activity_users,
        "referential_sample_customers": referential_sample_customers,
        "powerlaw_fit_parts": powerlaw_fit_parts,
        "source_percentile_docs": source_percentile_docs,
        "weighted_jaccard_docs": weighted_jaccard_docs,
        # --- rows-only by design (no oracle): outside the window ---
        "pca_project_embeddings": pca_project_embeddings,
        # --- r7 queue head: oldest stale driver rows (r3-green) ---
        "facts_token_budget": facts_token_budget,
        "summarize_docs": summarize_docs,
        # --- r4-green family: stale, refresh in r7 ---
        "kg_triples_sf": kg_triples_sf,  # rows-only (pandas-UDF chunker)
        "minhash_lsh_dedup": minhash_lsh_dedup,
        "simhash_dup_pairs": simhash_dup_pairs,
        "ngram_dup_pairs": ngram_dup_pairs,
        "containment_docs": containment_docs,
        "cosine_dup_pairs": cosine_dup_pairs,
        "knn_topk": knn_topk,
        "ann_recall": ann_recall,
        "bm25_topk_docs": bm25_topk_docs,
        "fts_index_topk": fts_index_topk,
        "fts_upsert_topk": fts_upsert_topk,
        "search_end_to_end": search_end_to_end,
        "hybrid_search_topk": hybrid_search_topk,
        "ask_prompt_facts": ask_prompt_facts,
        "search_snippets": search_snippets,
        "stratified_sample_docs": stratified_sample_docs,
        "pii_scrub_docs": pii_scrub_docs,
        "decontam_overlap": decontam_overlap,
        "repetition_docs": repetition_docs,
        "html_decode_docs": html_decode_docs,
        "sessionized_events": sessionized_events,
        "asof_purchase_attribution": asof_purchase_attribution,
        "range_join_clicks": range_join_clicks,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_revenue_by_nation": q5_revenue_by_nation,
        "tag_filter_and_or": tag_filter_and_or,
        "mongo_query_filter": mongo_query_filter,
        "resume_anti_join": resume_anti_join,
        "purge_keepset": purge_keepset,
        "latest_event_per_user": latest_event_per_user,
        "rerank_events": rerank_events,
        "paginate_customers": paginate_customers,
        "citations_for_matches": citations_for_matches,
        "record_ids": record_ids,
        "record_scaffold": record_scaffold,
        "sha256_hashes": sha256_hashes,
        "index_name_normalize": index_name_normalize,
        "dedup_exact_docs": dedup_exact_docs,
        "stopword_hits": stopword_hits,
        "text_quality_counts": text_quality_counts,
        "token_counts": token_counts,
        "fingerprints": fingerprints,
        "media_span_stats": media_span_stats,
        "lineage_triples_docs": lineage_triples_docs,
        "events_hourly": events_hourly,
        "top3_orders_per_customer": top3_orders_per_customer,
        "union_distinct_customers": union_distinct_customers,
        "connected_components_star": connected_components_star,
        "salted_supplier_counts": salted_supplier_counts,
        "time_rollup_events": time_rollup_events,
        # --- tail: driver-green r5 (freshest rows) ---
        "pagerank_copurchase": pagerank_copurchase,
        "triangle_counts_parts": triangle_counts_parts,
        "khop_parts": khop_parts,
        "temporal_khop_parts": temporal_khop_parts,
        "adamic_adar_parts": adamic_adar_parts,
        "neighbor_jaccard_parts": neighbor_jaccard_parts,
        "adamic_adar_capped": adamic_adar_capped,
        "lpa_communities_parts": lpa_communities_parts,
        "modularity_parts": modularity_parts,
        "conductance_parts": conductance_parts,
        "ktruss_parts": ktruss_parts,
        "harmonic_parts": harmonic_parts,
        "walk_counts_parts": walk_counts_parts,
        "scc_parts": scc_parts,
        "kcore_parts": kcore_parts,
        "pagerank_warm_parts": pagerank_warm_parts,
        "transitive_closure_parts": transitive_closure_parts,
        "community_rollup_parts": community_rollup_parts,
        "scd2_orders": scd2_orders,
        "orders_asof_snapshot": orders_asof_snapshot,
        "predicate_stats_docs": predicate_stats_docs,
        "scd2_upsert_orders": scd2_upsert_orders,
        "funnel_events": funnel_events,
        "event_transitions_events": event_transitions_events,
        "burst_events": burst_events,
        "type_hierarchy_parts": type_hierarchy_parts,
        "truth_discovery_orders": truth_discovery_orders,
        "property_table_docs": property_table_docs,
        "bgp_match_docs": bgp_match_docs,
        "meta_block_docs": meta_block_docs,
        "sorted_neighborhood_docs": sorted_neighborhood_docs,
        "blocking_quality_docs": blocking_quality_docs,
        "er_match_scores_docs": er_match_scores_docs,
        "weighted_sample_docs": weighted_sample_docs,
        "shacl_violations_docs": shacl_violations_docs,
        "retention_cohorts_events": retention_cohorts_events,
        "rule_closure_orders": rule_closure_orders,
        "orders_snapshot_diff": orders_snapshot_diff,
        "entity_fact_rank_docs": entity_fact_rank_docs,
        "sssp_parts": sssp_parts,
        "hits_parts": hits_parts,
        "clustering_coeff_parts": clustering_coeff_parts,
        "token_shards_docs": token_shards_docs,
        "temperature_mix_docs": temperature_mix_docs,
        "pmi_copurchase_edges": pmi_copurchase_edges,
        "pmi_index_edges": pmi_index_edges,
        "neighbor_mean_embeddings": neighbor_mean_embeddings,
        "tfidf_keywords_docs": tfidf_keywords_docs,
        "quota_cap_docs": quota_cap_docs,
        "dedup_collapse_docs": dedup_collapse_docs,
    }


_ASSOC_RULES_SQL = """
            WITH items AS (
                SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                FROM lineitem),
            marg AS (SELECT i, COUNT(*) AS n FROM items GROUP BY i),
            tot AS (SELECT CAST(COUNT(DISTINCT b) AS DOUBLE) AS N
                    FROM items),
            pairs AS (
                SELECT a.i AS src, c.i AS dst, COUNT(*) AS n_pairs
                FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
                GROUP BY a.i, c.i
                HAVING COUNT(*) >= 3),
            both_m AS (
                SELECT p.src, p.dst, p.n_pairs, ma.n AS na, mb.n AS nb
                FROM pairs p
                JOIN marg ma ON ma.i = p.src
                JOIN marg mb ON mb.i = p.dst),
            dirs AS (
                SELECT src AS antecedent, dst AS consequent,
                       n_pairs AS n_both, na AS n_ante, nb AS n_cons
                FROM both_m
                UNION ALL
                SELECT dst, src, n_pairs, nb, na FROM both_m)
            SELECT antecedent, consequent, n_both,
                   round(n_both / t.N, 6) AS support,
                   round(n_both / CAST(n_ante AS DOUBLE), 6)
                       AS confidence,
                   round(CAST(n_both AS DOUBLE) * t.N
                         / (CAST(n_ante AS DOUBLE) * n_cons), 6) AS lift
            FROM dirs CROSS JOIN tot t
        """


_REPEAT_GRAPH_CTE = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
), und AS (
  SELECT a.i AS src, c.i AS dst
  FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
  GROUP BY a.i, c.i HAVING COUNT(*) >= 2
), adj AS (
  SELECT src, dst FROM und UNION ALL SELECT dst AS src, src AS dst FROM und
)
"""

# 3 unrolled synchronous LPA rounds (min-label tie-break) over `adj` —
# shared by the lpa_communities_parts and modularity_parts mirrors so the
# label fixpoint is identical in both.
_LPA3_CTES = """
            , l0 AS (SELECT DISTINCT src AS node, src AS label FROM adj)
            , c1 AS (SELECT a.src AS node, l.label, COUNT(*) AS votes
                     FROM adj a JOIN l0 l ON l.node = a.dst
                     GROUP BY a.src, l.label)
            , l1 AS (SELECT node, label FROM (
                       SELECT node, label, row_number() OVER (
                         PARTITION BY node ORDER BY votes DESC, label ASC
                       ) AS rn FROM c1) WHERE rn = 1)
            , c2 AS (SELECT a.src AS node, l.label, COUNT(*) AS votes
                     FROM adj a JOIN l1 l ON l.node = a.dst
                     GROUP BY a.src, l.label)
            , l2 AS (SELECT node, label FROM (
                       SELECT node, label, row_number() OVER (
                         PARTITION BY node ORDER BY votes DESC, label ASC
                       ) AS rn FROM c2) WHERE rn = 1)
            , c3 AS (SELECT a.src AS node, l.label, COUNT(*) AS votes
                     FROM adj a JOIN l2 l ON l.node = a.dst
                     GROUP BY a.src, l.label)
            , l3 AS (SELECT node, label FROM (
                       SELECT node, label, row_number() OVER (
                         PARTITION BY node ORDER BY votes DESC, label ASC
                       ) AS rn FROM c3) WHERE rn = 1)
"""

_GRAPH_CTE = """
WITH und AS (
  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS src,
                  greatest(a.l_partkey, b.l_partkey) AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), adj AS (
  SELECT src, dst FROM und UNION ALL SELECT dst AS src, src AS dst FROM und
)
"""


def _pagerank_sql(iterations: int = 3) -> str:
    """Unrolled fixed-iteration PageRank CTE chain mirroring
    operators/graph.pagerank bit-for-bit up to float sum order (teleport
    written as (1.0 - 0.85) so the double literal matches Python's)."""
    parts = [
        _GRAPH_CTE.rstrip(),
        ", nodes AS (SELECT DISTINCT src AS node FROM adj)",
        ", outm AS (SELECT src, COUNT(*) AS outdeg FROM adj GROUP BY src)",
        ", r0 AS (SELECT node, 1.0::DOUBLE / (SELECT COUNT(*) FROM nodes)"
        " AS rank FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""", r{i} AS (
  SELECT n.node,
         (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT COUNT(*) FROM nodes)
         + 0.85::DOUBLE * COALESCE(c.s, 0.0::DOUBLE) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank * (1.0::DOUBLE / o.outdeg)) AS s
    FROM adj e JOIN outm o ON e.src = o.src
               JOIN r{i - 1} r ON r.node = e.src
    GROUP BY e.dst) c ON n.node = c.node)"""
        )
    parts.append(
        f"SELECT node AS part, ROUND(rank, 6) AS rank FROM r{iterations}"
    )
    return "\n".join(parts)


def _hyperanf_sql(
    hops: int = 2, p: int = 5, tail: str = "per_node"
) -> str:
    """Unrolled HyperANF CTE chain mirroring operators/graph.hyper_anf:
    same md5 register construction as the HLL oracle, one union+max CTE
    per hop, estimator literals written in the same association order
    as the Python floats."""
    m = 2 ** p
    parts = [
        _GRAPH_CTE.rstrip(),
        ", n0 AS (SELECT DISTINCT src AS node FROM adj)",
        f""", hsh AS (SELECT node,
      ('0x' || substr(md5('hll|' || CAST(node AS VARCHAR)), 1, 8))::BIGINT
          % {m} AS bucket,
      ('0x' || substr(md5('hll|' || CAST(node AS VARCHAR)), 9, 8))::BIGINT
          AS h2
  FROM n0)""",
        """, r0 AS (SELECT node, bucket,
      CASE WHEN h2 = 0 THEN 33
           ELSE 32 - CAST(floor(log2(h2)) AS BIGINT) END AS max_rank
  FROM hsh)""",
    ]
    for i in range(1, hops + 1):
        parts.append(f""", r{i} AS (
  SELECT node, bucket, MAX(max_rank) AS max_rank FROM (
    SELECT node, bucket, max_rank FROM r{i - 1}
    UNION ALL
    SELECT a.src AS node, r.bucket, r.max_rank
    FROM adj a JOIN r{i - 1} r ON r.node = a.dst)
  GROUP BY node, bucket)""")
    per = "\n    UNION ALL\n    ".join(
        f"""SELECT {i} AS h, node,
       CAST(COUNT(*) AS BIGINT) AS n, SUM(power(2.0, -max_rank)) AS s
    FROM r{i} GROUP BY node"""
        for i in range(0, hops + 1)
    )
    raw = (
        f"(0.7213 / (1.0 + 1.079 / {m})) * {m} * {m} / (s + ({m} - n))"
    )
    est = (
        f"""CASE WHEN {raw} <= 2.5 * {m} AND {m} - n > 0
                  THEN {m}.0 * ln({m}.0 / ({m} - n))
                  ELSE {raw} END"""
    )
    parts.append(f""", per AS ({per})""")
    if tail == "per_node":
        parts.append(f"""SELECT h, node AS part,
       round({est}, 6) AS est_ball
FROM per""")
    else:  # effective diameter (q = 0.9)
        parts.append(f""", nf AS (
  SELECT h, SUM({est}) AS est_pairs FROM per GROUP BY h)
, mx AS (SELECT MAX(est_pairs) AS mxp FROM nf)
, st AS (SELECT h, est_pairs,
                lag(est_pairs) OVER (ORDER BY h) AS prev, mxp
         FROM nf CROSS JOIN mx)
, sel AS (SELECT * FROM st
          WHERE est_pairs >= 0.9 * mxp ORDER BY h LIMIT 1)
SELECT round(CASE WHEN prev IS NULL THEN CAST(h AS DOUBLE)
                  ELSE h - 1 + (0.9 * mxp - prev)
                               / (est_pairs - prev) END, 6)
           AS eff_diameter,
       round(mxp, 6) AS n_pairs_max
FROM sel""")
    return "\n".join(parts)


def _node2vec_sql(length: int = 3) -> str:
    """Unrolled node2vec-walk mirror of kg_train.node2vec_walks over the
    capped co-purchase adjacency: per step one adjacency join, one
    (prev, cand) edge-class LEFT JOIN, an integer-unit unnest, and an
    arg_min over the md5 draws (draw keys are unique md5 strings, so
    arg_min == Spark's min(struct(sc, nxt)))."""
    parts = [
        """
            WITH pairs AS (
                SELECT DISTINCT
                       least(a.l_partkey, b.l_partkey) AS src,
                       greatest(a.l_partkey, b.l_partkey) AS dst
                FROM lineitem a JOIN lineitem b
                     ON a.l_orderkey = b.l_orderkey
                WHERE a.l_partkey <> b.l_partkey),
            adj0 AS (
                SELECT src, dst FROM pairs
                UNION ALL SELECT dst, src FROM pairs),
            adj AS (
                SELECT src, dst FROM (
                    SELECT src, dst,
                           row_number() OVER (
                               PARTITION BY src
                               ORDER BY md5('n2v:' || CAST(src AS VARCHAR)
                                            || ':' || CAST(dst AS VARCHAR)),
                                        dst) AS rn
                    FROM adj0)
                WHERE rn <= 8),
            f0 AS (
                SELECT CAST(node AS VARCHAR) || '#' || CAST(i AS VARCHAR)
                           AS walk_id,
                       node AS start, node AS cur,
                       CAST(NULL AS BIGINT) AS prev,
                       CAST(node AS VARCHAR) AS path
                FROM (SELECT DISTINCT src AS node FROM adj),
                     unnest(range(2)) AS t(i))"""
    ]
    for i in range(1, length + 1):
        parts.append(f""",
            s{i} AS (
                SELECT f.walk_id, f.start, f.cur, f.path, a.dst AS nxt,
                       CASE WHEN f.prev IS NULL THEN 4
                            WHEN a.dst = f.prev THEN 2
                            WHEN e.src IS NOT NULL THEN 4
                            ELSE 8 END AS units
                FROM f{i - 1} f
                JOIN adj a ON a.src = f.cur
                LEFT JOIN adj e ON e.src = f.prev AND e.dst = a.dst),
            d{i} AS (
                SELECT walk_id, start, cur, path, nxt,
                       md5('n2v:' || walk_id || ':{i}:'
                           || CAST(nxt AS VARCHAR) || ':'
                           || CAST(j AS VARCHAR)) AS sc
                FROM s{i}, unnest(range(units)) AS t(j)),
            f{i} AS (
                SELECT walk_id, start,
                       cur AS prev,
                       arg_min(nxt, sc) AS cur,
                       path || '->' || CAST(arg_min(nxt, sc) AS VARCHAR)
                           AS path
                FROM d{i} GROUP BY walk_id, start, cur, path)""")
    parts.append(f"""
            SELECT walk_id, start, path, {length} AS n_steps
            FROM f{length}""")
    return "\n".join(parts)


def _hits_sql(iterations: int = 3) -> str:
    """Unrolled fixed-iteration HITS mirroring operators/graph.hits: the
    directed edge set is the small-id -> large-id orientation (`und`),
    h0 ≡ 1, and each half-step L2-normalizes via a scalar subquery —
    the same aggregate Spark broadcasts back."""
    parts = [
        _GRAPH_CTE.rstrip(),
        ", nodes AS (SELECT DISTINCT src AS node FROM adj)",
        ", h0 AS (SELECT node, 1.0::DOUBLE AS s FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        parts.append(f""", a{i}f AS (
  SELECT n.node, COALESCE(r.s, 0.0::DOUBLE) AS raw
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(h.s) AS s
    FROM und e JOIN h{i - 1} h ON h.node = e.src GROUP BY e.dst) r
  ON n.node = r.node)
, a{i} AS (SELECT node,
                  raw / (SELECT sqrt(SUM(raw * raw)) FROM a{i}f) AS s
           FROM a{i}f)
, h{i}f AS (
  SELECT n.node, COALESCE(r.s, 0.0::DOUBLE) AS raw
  FROM nodes n LEFT JOIN (
    SELECT e.src AS node, SUM(a.s) AS s
    FROM und e JOIN a{i} a ON a.node = e.dst GROUP BY e.src) r
  ON n.node = r.node)
, h{i} AS (SELECT node,
                  raw / (SELECT sqrt(SUM(raw * raw)) FROM h{i}f) AS s
           FROM h{i}f)""")
    parts.append(
        f"""SELECT h.node AS part, round(h.s, 6) AS hub,
       round(a.s, 6) AS authority
FROM h{iterations} h JOIN a{iterations} a ON a.node = h.node"""
    )
    return "\n".join(parts)


def _ppr_sql(iterations: int = 3) -> str:
    """Unrolled personalized PageRank mirroring graph.personalized_pagerank:
    teleport vector = 1/|seeds| on seed nodes present in the graph, 0
    elsewhere; |seeds| counted on the seed INPUT (part filter), so seeds
    absent from the graph dilute the teleport mass identically."""
    parts = [
        _GRAPH_CTE.rstrip(),
        ", nodes AS (SELECT DISTINCT src AS node FROM adj)",
        ", outm AS (SELECT src, COUNT(*) AS outdeg FROM adj GROUP BY src)",
        ", seeds AS (SELECT DISTINCT p_partkey AS node FROM part"
        " WHERE p_partkey <= 4)",
        """, tele AS (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL
              THEN 1.0::DOUBLE / (SELECT COUNT(*) FROM seeds)
              ELSE 0.0::DOUBLE END AS tele
  FROM nodes n LEFT JOIN seeds s ON n.node = s.node)""",
        ", r0 AS (SELECT node, tele AS rank FROM tele)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""", r{i} AS (
  SELECT t.node,
         (1.0::DOUBLE - 0.85::DOUBLE) * t.tele
         + 0.85::DOUBLE * COALESCE(c.s, 0.0::DOUBLE) AS rank
  FROM tele t LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank * (1.0::DOUBLE / o.outdeg)) AS s
    FROM adj e JOIN outm o ON e.src = o.src
               JOIN r{i - 1} r ON r.node = e.src
    GROUP BY e.dst) c ON t.node = c.node)"""
        )
    parts.append(
        f"SELECT node AS part, ROUND(rank, 6) AS rank FROM r{iterations}"
    )
    return "\n".join(parts)


def _wpr_sql(iterations: int = 3) -> str:
    """Unrolled WEIGHTED PageRank over positive-PMI co-occurrence edges,
    mirroring cooccur.pmi_edges(min_pairs=2) + graph.pagerank(weight):
    share = wt / sum(wt over out-edges)."""
    parts = [
        """WITH items AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
marg AS (SELECT i, COUNT(*) AS n FROM items GROUP BY i),
tot AS (SELECT CAST(COUNT(DISTINCT b) AS DOUBLE) AS N FROM items),
pairs AS (
  SELECT a.i AS src, c.i AS dst, COUNT(*) AS n_pairs
  FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
  GROUP BY a.i, c.i HAVING COUNT(*) >= 2),
wund0 AS (
  SELECT p.src, p.dst,
         ln(CAST(p.n_pairs AS DOUBLE) * t.N
            / (CAST(ma.n AS DOUBLE) * mb.n)) AS wt
  FROM pairs p
  JOIN marg ma ON ma.i = p.src
  JOIN marg mb ON mb.i = p.dst
  CROSS JOIN tot t),
wund AS (SELECT * FROM wund0 WHERE wt > 0),
adj AS (SELECT src, dst, wt FROM wund
        UNION ALL SELECT dst AS src, src AS dst, wt FROM wund),
nodes AS (SELECT DISTINCT src AS node FROM adj),
outm AS (SELECT src, SUM(wt) AS out_mass FROM adj GROUP BY src),
r0 AS (SELECT node, 1.0::DOUBLE / (SELECT COUNT(*) FROM nodes) AS rank
       FROM nodes)""",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""", r{i} AS (
  SELECT n.node,
         (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT COUNT(*) FROM nodes)
         + 0.85::DOUBLE * COALESCE(c.s, 0.0::DOUBLE) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank * (e.wt / o.out_mass)) AS s
    FROM adj e JOIN outm o ON e.src = o.src
               JOIN r{i - 1} r ON r.node = e.src
    GROUP BY e.dst) c ON n.node = c.node)"""
        )
    parts.append(
        f"SELECT node AS part, ROUND(rank, 6) AS rank FROM r{iterations}"
    )
    return "\n".join(parts)


def oracle_sql() -> dict[str, str]:
    stopset = ", ".join(f"'{w}'" for w in STOPSET)
    out = _oracle_sql_dict(stopset)
    # pmi_index_edges must converge to the one-shot whole-corpus PMI —
    # the incremental index shares the full-rebuild oracle verbatim.
    out["pmi_index_edges"] = out["pmi_copurchase_edges"]
    return out


def _oracle_sql_dict(stopset: str) -> dict[str, str]:
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT o_orderkey, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY o_orderkey, o_orderpriority
            ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
        """,
        "q5_revenue_by_nation": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "tag_filter_and_or": """
            SELECT doc_id FROM documents
            WHERE (lang = 'en' AND source = 'src1') OR source = 'src2'
        """,
        "mongo_query_filter": """
            SELECT doc_id FROM documents
            WHERE lang IN ('en', 'de')
              AND n_chars >= 200 AND n_chars < 450
              AND NOT source = 'src3'
        """,
        "resume_anti_join": """
            SELECT o_orderkey FROM orders o
            WHERE NOT EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate >= TIMESTAMP '1997-01-01')
        """,
        "purge_keepset": """
            SELECT l_orderkey, l_linenumber FROM lineitem l
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey
                            AND o.o_orderstatus = 'F')
              AND l_linenumber > 2
        """,
        "latest_event_per_user": """
            SELECT user_id, event_id, event_type FROM (
                SELECT user_id, event_id, event_type,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM events) WHERE rn = 1
        """,
        "rerank_events": """
            SELECT user_id,
                   round(least(1.0, sum(score * pow(0.5, rn - 1))), 6) AS relevance
            FROM (
                SELECT user_id,
                       value / (1 + abs(value)) AS score,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY value / (1 + abs(value)) DESC, event_id ASC
                       ) AS rn
                FROM events)
            GROUP BY user_id
        """,
        "paginate_customers": """
            SELECT c_custkey, c_name FROM customer
            ORDER BY c_custkey OFFSET 100 LIMIT 20
        """,
        "citations_for_matches": """
            WITH base AS (
                SELECT printf('doc-%09d', doc_id) AS document_id,
                       substr(sha256(printf('doc-%09d', doc_id) || '/extract'),
                              1, 32) AS file_id,
                       text, doc_id
                FROM documents),
            parts AS (
                SELECT document_id, file_id, substr(text, 1, 100) AS text,
                       0 AS partition_number,
                       round(((doc_id % 7) + 1) / 10.0, 6) AS relevance
                FROM base
                UNION ALL
                SELECT document_id, file_id, substr(text, 101, 1000000),
                       1, round(((doc_id % 4) + 1) / 10.0, 6)
                FROM base)
            SELECT 'default' || '/' || document_id || '/' || file_id AS link,
                   'default' AS "index", document_id, file_id,
                   'text/plain' AS source_content_type,
                   document_id || '.txt' AS source_name,
                   CAST(row_number() OVER (
                       PARTITION BY document_id
                       ORDER BY relevance DESC, partition_number ASC
                   ) - 1 AS INT) AS partition_order,
                   text, relevance,
                   CAST(partition_number AS INT) AS partition_number,
                   CAST(0 AS INT) AS section_number
            FROM parts
        """,
        "record_ids": """
            SELECT printf('d=doc-%09d//p=%s', doc_id, md5(text)) AS record_id
            FROM documents
        """,
        "record_scaffold": """
            SELECT printf('d=%s//p=%s.partition.0', doc, fid) AS id,
                   doc AS document_id, fid AS file_id,
                   'text/plain' AS file_type, '0' AS part_n, '0' AS sect_n
            FROM (SELECT printf('doc-%09d', doc_id) AS doc,
                         substr(sha256(printf('doc-%09d', doc_id) || '/extract'), 1, 32) AS fid
                  FROM documents)
        """,
        "sha256_hashes": """
            SELECT doc_id, sha256(text) AS text_sha256 FROM documents
        """,
        "index_name_normalize": """
            SELECT DISTINCT regexp_replace(
                lower(source || ' ' || lang || ' ' || 'Index.V1:final'),
                '[\\s\\\\/._:]+', '-', 'g') AS index_name
            FROM documents
        """,
        "dedup_exact_docs": """
            SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id,
                   count(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """,
        "minhash_lsh_dedup": """
            WITH both_docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL SELECT doc_id + 100000, text FROM documents),
            w AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws
                  FROM both_docs),
            ix AS (SELECT doc_id, ws,
                          unnest(range(greatest(len(ws) - 2, 1))) AS i FROM w),
            g AS (SELECT DISTINCT doc_id,
                         array_to_string(ws[i + 1 : i + 3], ' ') AS gram
                  FROM ix),
            sig AS (SELECT doc_id,
                           min(md5('0|' || gram)) || '|' ||
                           min(md5('1|' || gram)) || '|' ||
                           min(md5('2|' || gram)) || '|' ||
                           min(md5('3|' || gram)) AS band
                    FROM g GROUP BY doc_id)
            SELECT a.doc_id AS dup_a, b.doc_id AS dup_b
            FROM sig a JOIN sig b ON a.band = b.band AND a.doc_id < b.doc_id
        """,
        "simhash_dup_pairs": """
            WITH both_docs AS (
                SELECT lpad(CAST(doc_id AS VARCHAR), 9, '0') AS id, text
                FROM documents
                UNION ALL
                SELECT lpad(CAST(doc_id + 100000 AS VARCHAR), 9, '0'), text
                FROM documents),
            t AS (SELECT id, ' ' || lower(text) || ' ' AS t FROM both_docs),
            ix AS (SELECT id, t,
                          unnest(range(greatest(length(t) - 2, 1))) AS i
                   FROM t),
            g AS (SELECT id, md5(substr(t, i + 1, 3)) AS hx FROM ix),
            pos AS (SELECT id, hx, unnest(range(32)) AS j FROM g),
            nib AS (SELECT id, j,
                           strpos('0123456789abcdef', substr(hx, j + 1, 1)) - 1 AS v
                    FROM pos),
            votes AS (SELECT id, j,
                             sum(CASE WHEN v % 2 = 1 THEN 1 ELSE -1 END) AS s0,
                             sum(CASE WHEN (v // 2) % 2 = 1 THEN 1 ELSE -1 END) AS s1
                      FROM nib GROUP BY id, j),
            bits AS (
                SELECT id, 2 * j AS b,
                       CASE WHEN s0 > 0 THEN 1 ELSE 0 END AS bit FROM votes
                UNION ALL
                SELECT id, 2 * j + 1,
                       CASE WHEN s1 > 0 THEN 1 ELSE 0 END FROM votes),
            bands AS (SELECT id, b // 16 AS k,
                             sum(bit * (1 << (b % 16))) AS val
                      FROM bits GROUP BY id, b // 16),
            cool AS (SELECT k, val FROM bands
                     GROUP BY k, val HAVING count(*) <= 64),
            cands AS (SELECT DISTINCT l.id AS a, r.id AS b
                      FROM bands l
                      JOIN cool USING (k, val)
                      JOIN bands r ON l.k = r.k AND l.val = r.val
                                  AND l.id < r.id),
            sig AS (SELECT id,
                           sum(CASE WHEN k = 0 THEN val END) AS v0,
                           sum(CASE WHEN k = 1 THEN val END) AS v1,
                           sum(CASE WHEN k = 2 THEN val END) AS v2,
                           sum(CASE WHEN k = 3 THEN val END) AS v3
                    FROM bands GROUP BY id)
            SELECT a, b, hamming FROM (
                SELECT a, b,
                       CAST(bit_count(xor(sa.v0, sb.v0))
                          + bit_count(xor(sa.v1, sb.v1))
                          + bit_count(xor(sa.v2, sb.v2))
                          + bit_count(xor(sa.v3, sb.v3)) AS INT) AS hamming
                FROM cands
                JOIN sig sa ON cands.a = sa.id
                JOIN sig sb ON cands.b = sb.id)
            WHERE hamming <= 3
        """,
        "containment_docs": """
            WITH both_docs AS (
                SELECT lpad(CAST(doc_id AS VARCHAR), 9, '0') AS id, text
                FROM documents
                UNION ALL
                SELECT lpad(CAST(doc_id + 100000 AS VARCHAR), 9, '0'),
                       array_to_string(
                         string_split_regex(text, '\\s+')[1:15], ' ')
                FROM documents),
            w AS (SELECT id, string_split_regex(lower(text), '\\s+') AS ws
                  FROM both_docs),
            ix AS (SELECT id, ws,
                          unnest(range(greatest(len(ws) - 3, 0) + 1)) AS i
                   FROM w),
            g AS (SELECT DISTINCT id,
                         array_to_string(ws[i + 1 : i + 3], ' ') AS gram
                  FROM ix),
            cool AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 64),
            cg AS (SELECT id, gram FROM g JOIN cool USING (gram)),
            sizes AS (SELECT id, count(*) AS n FROM cg GROUP BY id),
            inter AS (SELECT l.id AS a, r.id AS b, count(*) AS i
                      FROM cg l JOIN cg r ON l.gram = r.gram AND l.id < r.id
                      GROUP BY l.id, r.id),
            directed AS (
                SELECT a AS src, b AS dst, i FROM inter
                UNION ALL SELECT b, a, i FROM inter)
            SELECT d.src, d.dst, round(d.i / ns.n, 6) AS containment
            FROM directed d JOIN sizes ns ON d.src = ns.id
            WHERE d.i / ns.n >= 0.9
        """,
        "ppjoin_docs": """
            WITH toks AS (
                SELECT DISTINCT doc_id, t.token
                FROM (SELECT doc_id,
                             string_split_regex(lower(trim(text)),
                                                '\\s+') AS ws
                      FROM documents), unnest(ws) AS t(token)
                WHERE len(t.token) >= 1),
            sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
                      FROM toks GROUP BY doc_id),
            -- BRUTE FORCE on purpose: the oracle checks the pruned
            -- Spark plan against the unpruned ground truth
            inter AS (SELECT x.doc_id AS a, y.doc_id AS b,
                             CAST(COUNT(*) AS BIGINT) AS n_common
                      FROM toks x JOIN toks y
                        ON y.token = x.token AND x.doc_id < y.doc_id
                      GROUP BY x.doc_id, y.doc_id)
            SELECT i.a, i.b, i.n_common,
                   ROUND(CAST(i.n_common AS DOUBLE)
                         / (sa.n + sb.n - i.n_common), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.a
            JOIN sizes sb ON sb.doc_id = i.b
            WHERE CAST(i.n_common AS DOUBLE)
                  / (sa.n + sb.n - i.n_common) >= 0.6
        """,
        "ngram_dup_pairs": """
            WITH both_docs AS (
                SELECT lpad(CAST(doc_id AS VARCHAR), 9, '0') AS id, text
                FROM documents
                UNION ALL
                SELECT lpad(CAST(doc_id + 100000 AS VARCHAR), 9, '0'), text
                FROM documents),
            w AS (SELECT id, string_split_regex(lower(text), '\\s+') AS ws
                  FROM both_docs),
            ix AS (SELECT id, ws,
                          unnest(range(greatest(len(ws) - 3, 0) + 1)) AS i
                   FROM w),
            g AS (SELECT DISTINCT id,
                         array_to_string(ws[i + 1 : i + 3], ' ') AS gram
                  FROM ix),
            cool AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 64),
            cg AS (SELECT id, gram FROM g JOIN cool USING (gram)),
            sizes AS (SELECT id, count(*) AS n FROM cg GROUP BY id),
            inter AS (SELECT l.id AS a, r.id AS b, count(*) AS i
                      FROM cg l JOIN cg r ON l.gram = r.gram AND l.id < r.id
                      GROUP BY l.id, r.id)
            SELECT a, b, round(i / (na.n + nb.n - i), 6) AS jaccard
            FROM inter
            JOIN sizes na ON inter.a = na.id
            JOIN sizes nb ON inter.b = nb.id
            WHERE i / (na.n + nb.n - i) >= 0.8
        """,
        "cosine_dup_pairs": """
            WITH both_vecs AS (
                SELECT vec_id AS id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 100000, embedding FROM embeddings),
            planes AS (
                SELECT i, j,
                       CASE WHEN (strpos('0123456789abcdef',
                                  substr(md5('plane|' || i || '|' || j), 1, 1))
                                  - 1) % 2 = 1
                            THEN 1 ELSE -1 END AS w
                FROM (SELECT unnest(range(8)) AS i),
                     (SELECT unnest(range(64)) AS j)),
            ex AS (SELECT id, unnest(embedding)::DOUBLE AS x,
                          generate_subscripts(embedding, 1) - 1 AS j
                   FROM both_vecs),
            dots AS (SELECT id, i, sum(x * w) AS d
                     FROM ex JOIN planes USING (j) GROUP BY id, i),
            buckets AS (SELECT id,
                               sum(CASE WHEN d > 0 THEN (1 << i) ELSE 0 END)
                                   AS bucket
                        FROM dots GROUP BY id),
            cool AS (SELECT bucket FROM buckets
                     GROUP BY bucket HAVING count(*) <= 64),
            cands AS (SELECT DISTINCT l.id AS a, r.id AS b
                      FROM buckets l
                      JOIN cool USING (bucket)
                      JOIN buckets r ON l.bucket = r.bucket AND l.id < r.id),
            ea AS (SELECT id, unnest(embedding)::DOUBLE AS xa,
                          generate_subscripts(embedding, 1) AS k
                   FROM both_vecs),
            eb AS (SELECT id, unnest(embedding)::DOUBLE AS xb,
                          generate_subscripts(embedding, 1) AS k
                   FROM both_vecs),
            pairs AS (
                SELECT a, b,
                       round(sum(xa * xb)
                             / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb))),
                             4) AS cos
                FROM cands
                JOIN ea ON ea.id = cands.a
                JOIN eb ON eb.id = cands.b AND ea.k = eb.k
                GROUP BY a, b)
            SELECT a, b, cos FROM pairs WHERE cos >= 0.98
        """,
        "knn_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            ex AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
                          generate_subscripts(embedding, 1) AS i
                   FROM embeddings WHERE vec_id <> 0),
            qx AS (SELECT unnest(qv)::DOUBLE AS y,
                          generate_subscripts(qv, 1) AS i FROM q),
            s AS (SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS nx
                  FROM ex JOIN qx USING (i) GROUP BY vec_id),
            qn AS (SELECT sum(y * y) AS ny FROM qx)
            SELECT vec_id, round(dot / (sqrt(nx) * sqrt(ny)), 4) AS score
            FROM s, qn ORDER BY score DESC, vec_id ASC LIMIT 10
        """,
        "stopword_hits": f"""
            SELECT doc_id,
                   len(list_distinct(list_intersect(
                       string_split_regex(text, '\\s+'),
                       [{stopset}]))) AS n_hits
            FROM documents
        """,
        "text_quality_counts": """
            SELECT doc_id,
                   length(text) AS n_chars_text,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                   len(string_split_regex(trim(text), '\\s+')) AS n_words
            FROM documents
        """,
        "token_counts": """
            SELECT doc_id,
                   CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_4char,
                   CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words
            FROM documents
        """,
        "fingerprints": """
            SELECT doc_id,
                   md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'))
                       AS fingerprint
            FROM documents
        """,
        "media_span_stats": """
            WITH w AS (SELECT printf('doc-%09d', doc_id) AS doc,
                              string_split_regex(text, '\\s+') AS ws
                       FROM documents),
            n AS (SELECT doc, CAST(ceil(len(ws) / 12.0) AS INT) AS n_spans
                  FROM w),
            s AS (SELECT doc,
                         unnest(range(greatest(n_spans - 1, 0) + 1)) AS i
                  FROM n),
            m AS (SELECT doc, i FROM s WHERE i % 4 = 2)
            SELECT doc AS doc_id, count(*) AS n_media,
                   min(printf('img://%s/%d', doc, i)) AS first_media_ref
            FROM m GROUP BY doc
        """,
        "lineage_triples_docs": """
            SELECT printf('doc-%09d', doc_id) AS subj, 'lang' AS pred,
                   lang AS obj FROM documents
            UNION ALL
            SELECT printf('doc-%09d', doc_id), 'source', source FROM documents
            UNION ALL
            SELECT printf('doc-%09d', doc_id), 'n_chars',
                   CAST(n_chars AS VARCHAR) FROM documents
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n_events, round(sum(value), 3) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "top3_orders_per_customer": """
            SELECT o_custkey, o_orderkey, rn FROM (
                SELECT o_custkey, o_orderkey,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC,
                                                   o_orderkey ASC) AS rn
                FROM orders) WHERE rn <= 3
        """,
        "union_distinct_customers": """
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            UNION
            SELECT c_custkey FROM customer WHERE c_acctbal > 9000
        """,
        "connected_components_star": """
            SELECT lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS node_id,
                   lpad(CAST(min(c_custkey) OVER (PARTITION BY c_nationkey)
                             AS VARCHAR), 9, '0') AS component
            FROM customer
        """,
        "salted_supplier_counts": """
            SELECT l_suppkey, count(*) AS n_items
            FROM lineitem GROUP BY l_suppkey
        """,
        "bm25_topk_docs": """
            WITH toks AS (
                SELECT doc_id AS doc,
                       len(string_split_regex(lower(regexp_replace(text, '[^\\w\\s]', ' ', 'g')), '\\s+')) AS dl,
                       unnest(string_split_regex(lower(regexp_replace(text, '[^\\w\\s]', ' ', 'g')), '\\s+')) AS term
                FROM documents),
            postings AS (
                SELECT doc, dl, term, count(*) AS tf FROM toks
                WHERE length(term) > 0 GROUP BY doc, dl, term),
            stats AS (
                SELECT (SELECT count(*) FROM documents) AS n,
                       (SELECT avg(dl) FROM (SELECT DISTINCT doc, dl FROM postings)) AS avgdl),
            q AS (SELECT * FROM postings WHERE term IN ('spark', 'vector', 'merge')),
            dfreq AS (SELECT term, count(DISTINCT doc) AS df FROM q GROUP BY term),
            w AS (
                SELECT q.doc,
                       ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                       * (q.tf * 2.2)
                       / (q.tf + 1.2 * (1 - 0.75 + 0.75 * q.dl / stats.avgdl)) AS wt
                FROM q JOIN dfreq USING (term), stats)
            SELECT doc, round(sum(wt), 3) AS score
            FROM w GROUP BY doc
            ORDER BY score DESC, doc ASC LIMIT 10
        """,
        "ann_recall": """
            WITH planes AS (
                SELECT i, j,
                       CASE WHEN (strpos('0123456789abcdef',
                                  substr(md5('plane|' || i || '|' || j), 1, 1))
                                  - 1) % 2 = 1
                            THEN 1 ELSE -1 END AS w
                FROM (SELECT unnest(range(6)) AS i),
                     (SELECT unnest(range(64)) AS j)),
            ex AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
                          generate_subscripts(embedding, 1) - 1 AS j
                   FROM embeddings),
            dots AS (SELECT vec_id, i, sum(x * w) AS d
                     FROM ex JOIN planes USING (j) GROUP BY vec_id, i),
            buckets AS (SELECT vec_id,
                               sum(CASE WHEN d > 0 THEN (1 << i) ELSE 0 END)
                                   AS bucket
                        FROM dots GROUP BY vec_id),
            ea AS (SELECT vec_id, unnest(embedding)::DOUBLE AS xa,
                          generate_subscripts(embedding, 1) AS k
                   FROM embeddings),
            qa AS (SELECT vec_id AS qid, unnest(embedding)::DOUBLE AS xq,
                          generate_subscripts(embedding, 1) AS k
                   FROM embeddings WHERE vec_id < 10),
            scores AS (
                SELECT qa.qid, ea.vec_id,
                       round(sum(xa * xq)
                             / (sqrt(sum(xa * xa)) * sqrt(sum(xq * xq))),
                             6) AS score
                FROM ea JOIN qa USING (k) GROUP BY qa.qid, ea.vec_id),
            exact AS (SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY score DESC, vec_id ASC) AS rn
                FROM scores) WHERE rn <= 10),
            probes AS (
                SELECT vec_id AS qid, bucket FROM buckets WHERE vec_id < 10
                UNION ALL
                SELECT b.vec_id, xor(b.bucket, 1 << i)
                FROM buckets b, (SELECT unnest(range(6)) AS i)
                WHERE b.vec_id < 10),
            cands AS (SELECT p.qid, bk.vec_id
                      FROM probes p JOIN buckets bk USING (bucket)),
            approx AS (SELECT qid, vec_id FROM (
                SELECT c.qid, c.vec_id,
                       row_number() OVER (PARTITION BY c.qid
                                          ORDER BY s.score DESC,
                                                   c.vec_id ASC) AS rn
                FROM cands c
                JOIN scores s ON s.qid = c.qid AND s.vec_id = c.vec_id)
                WHERE rn <= 10)
            SELECT e.qid AS query_id, round(count(*) / 10.0, 2) AS recall
            FROM exact e JOIN approx a ON e.qid = a.qid AND e.vec_id = a.vec_id
            GROUP BY e.qid ORDER BY query_id
        """,
        "ann_quantized_topk": """
            WITH planes AS (
                SELECT i, j,
                       CASE WHEN (strpos('0123456789abcdef',
                                  substr(md5('plane|' || i || '|' || j), 1, 1))
                                  - 1) % 2 = 1
                            THEN 1 ELSE -1 END AS w
                FROM (SELECT unnest(range(6)) AS i),
                     (SELECT unnest(range(64)) AS j)),
            ex AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
                          generate_subscripts(embedding, 1) - 1 AS j
                   FROM embeddings),
            dots AS (SELECT vec_id, i, sum(x * w) AS d
                     FROM ex JOIN planes USING (j) GROUP BY vec_id, i),
            buckets AS (SELECT vec_id,
                               sum(CASE WHEN d > 0 THEN (1 << i) ELSE 0 END)
                                   AS bucket
                        FROM dots GROUP BY vec_id),
            probes AS (
                SELECT bucket FROM buckets WHERE vec_id = 0
                UNION
                SELECT xor(b.bucket, 1 << i)
                FROM buckets b, (SELECT unnest(range(6)) AS i)
                WHERE b.vec_id = 0),
            deq AS (
                SELECT e.vec_id,
                       generate_subscripts(e.embedding, 1) AS k,
                       CAST(round(unnest(e.embedding)::DOUBLE
                            / (CAST(list_max(list_transform(e.embedding,
                                                            x -> abs(x)))
                                    AS DOUBLE) / 127.0)) AS INT)::DOUBLE
                       * (CAST(list_max(list_transform(e.embedding,
                                                       x -> abs(x)))
                               AS DOUBLE) / 127.0) AS v
                FROM embeddings e JOIN buckets b USING (vec_id)
                WHERE e.vec_id <> 0
                  AND b.bucket IN (SELECT bucket FROM probes)),
            q0 AS (SELECT unnest(embedding)::DOUBLE AS xq,
                          generate_subscripts(embedding, 1) AS k
                   FROM embeddings WHERE vec_id = 0)
            SELECT d.vec_id,
                   round(sum(d.v * q0.xq)
                         / (sqrt(sum(d.v * d.v)) * sqrt(sum(q0.xq * q0.xq))),
                         4) AS score
            FROM deq d JOIN q0 USING (k) GROUP BY d.vec_id
            ORDER BY score DESC, vec_id ASC LIMIT 10
        """,
        "fts_index_topk": """
            WITH toks AS (
                SELECT doc_id AS doc,
                       len(string_split_regex(lower(regexp_replace(text, '[^\\w\\s]', ' ', 'g')), '\\s+')) AS dl,
                       unnest(string_split_regex(lower(regexp_replace(text, '[^\\w\\s]', ' ', 'g')), '\\s+')) AS term
                FROM documents),
            postings AS (
                SELECT doc, dl, term, count(*) AS tf FROM toks
                WHERE length(term) > 0 GROUP BY doc, dl, term),
            stats AS (
                SELECT (SELECT count(*) FROM documents) AS n,
                       (SELECT avg(dl) FROM (SELECT DISTINCT doc, dl FROM postings)) AS avgdl),
            q AS (SELECT * FROM postings WHERE term IN ('spark', 'vector', 'merge')),
            dfreq AS (SELECT term, count(DISTINCT doc) AS df FROM q GROUP BY term),
            w AS (
                SELECT q.doc,
                       ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                       * (q.tf * 2.2)
                       / (q.tf + 1.2 * (1 - 0.75 + 0.75 * q.dl / stats.avgdl)) AS wt
                FROM q JOIN dfreq USING (term), stats)
            SELECT doc, round(sum(wt), 3) AS score
            FROM w GROUP BY doc
            ORDER BY score DESC, doc ASC LIMIT 10
        """,
        # incremental build (build half -> upsert rest + re-delivery) must
        # converge to the SAME index as one full build, so it shares the
        # whole-corpus BM25 oracle
        "fts_upsert_topk": """
            WITH toks AS (
                SELECT doc_id AS doc,
                       len(string_split_regex(lower(regexp_replace(text, '[^\\w\\s]', ' ', 'g')), '\\s+')) AS dl,
                       unnest(string_split_regex(lower(regexp_replace(text, '[^\\w\\s]', ' ', 'g')), '\\s+')) AS term
                FROM documents),
            postings AS (
                SELECT doc, dl, term, count(*) AS tf FROM toks
                WHERE length(term) > 0 GROUP BY doc, dl, term),
            stats AS (
                SELECT (SELECT count(*) FROM documents) AS n,
                       (SELECT avg(dl) FROM (SELECT DISTINCT doc, dl FROM postings)) AS avgdl),
            q AS (SELECT * FROM postings WHERE term IN ('spark', 'vector', 'merge')),
            dfreq AS (SELECT term, count(DISTINCT doc) AS df FROM q GROUP BY term),
            w AS (
                SELECT q.doc,
                       ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                       * (q.tf * 2.2)
                       / (q.tf + 1.2 * (1 - 0.75 + 0.75 * q.dl / stats.avgdl)) AS wt
                FROM q JOIN dfreq USING (term), stats)
            SELECT doc, round(sum(wt), 3) AS score
            FROM w GROUP BY doc
            ORDER BY score DESC, doc ASC LIMIT 10
        """,
        "search_snippets": """
            WITH base AS (
                SELECT doc_id, trim(text) AS t,
                       string_split_regex(trim(text), '\\s+') AS words
                FROM documents),
            toks AS (
                SELECT doc_id,
                       lower(regexp_replace(unnest(words), '[^\\w]', '', 'g')) AS w,
                       generate_subscripts(words, 1) - 1 AS i
                FROM base),
            firsts AS (
                SELECT doc_id,
                       min(CASE WHEN w IN ('spark', 'merge') THEN i END) AS idx
                FROM toks GROUP BY doc_id),
            joined AS (
                SELECT b.doc_id, b.t, b.words, f.idx,
                       greatest(0, f.idx - 8) AS s,
                       len(b.words) AS n
                FROM base b JOIN firsts f USING (doc_id))
            SELECT doc_id,
                   CASE WHEN idx IS NOT NULL THEN
                       (CASE WHEN s > 0 THEN '...' ELSE '' END)
                       || array_to_string(words[s + 1 : s + 32], ' ')
                       || (CASE WHEN s + 32 < n THEN '...' ELSE '' END)
                   ELSE
                       substr(t, 1, 200)
                       || (CASE WHEN length(t) > 200 THEN '...' ELSE '' END)
                   END AS snippet
            FROM joined
        """,
        "sessionized_events": """
            WITH s AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR CAST(floor(epoch(ts)) AS BIGINT)
                                    - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                            THEN 1 ELSE 0 END AS nw
                FROM events
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts ASC, event_id ASC)),
            t AS (
                SELECT *, CAST(sum(nw) OVER (
                    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS INT) AS session_n
                FROM s)
            SELECT user_id, session_n, count(*) AS n_events,
                   CAST(floor(epoch(max(ts))) AS BIGINT)
                   - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_sec
            FROM t GROUP BY user_id, session_n
            ORDER BY user_id, session_n
        """,
        "html_decode_docs": """
            WITH page AS (
                SELECT doc_id,
                       '<html><head><style>p{margin:0}</style></head><body>'
                       || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>'
                       || '<!-- generated --><p>' || text || ' &amp; more</p>'
                       || '<script>var x = ''<b>'';</script></body></html>'
                       AS html
                FROM documents),
            stripped AS (
                SELECT doc_id,
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(html, '(?s)<!--.*?-->', '', 'g'),
                             '(?is)<script\\b.*?</script>', '', 'g'),
                           '(?is)<style\\b.*?</style>', '', 'g'),
                         '(?s)<[^>]*>', '', 'g') AS t
                FROM page),
            unescaped AS (
                SELECT doc_id,
                       replace(replace(replace(replace(replace(replace(replace(
                           t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                           '&#39;', chr(39)), '&apos;', chr(39)),
                           '&nbsp;', ' '), '&amp;', '&') AS t
                FROM stripped)
            SELECT doc_id,
                   trim(regexp_replace(t, '\r\n|\r', chr(10), 'g')) AS decoded
            FROM unescaped
        """,
        "pii_scrub_docs": """
            WITH seeded AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or +1 (555) 010-'
                       || printf('%04d', doc_id % 10000)
                       || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                       || '.' || CAST((doc_id + 7) % 256 AS VARCHAR)
                       || ' ref ' || CAST(doc_id * 1000003 + 123456789 AS VARCHAR)
                       AS text
                FROM documents)
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '[EMAIL]', 'g'),
                         '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '[IP]', 'g'),
                       '\\b\\d{9,}\\b', '[ID]', 'g'),
                     '\\+?\\d[\\d ()-]{7,}\\d', '[PHONE]', 'g') AS text_scrubbed
            FROM seeded
        """,
        "decontam_overlap": """
            WITH words AS (
                SELECT doc_id,
                       list_filter(
                         string_split_regex(
                           lower(regexp_replace(text, '[^\\w\\s]', ' ', 'g')),
                           '\\s+'),
                         w -> length(w) > 0) AS ws
                FROM documents),
            bgrams AS (
                SELECT DISTINCT array_to_string(ws[i : i + 7], ' ') AS gram
                FROM words, unnest(range(1, greatest(len(ws) - 7, 0) + 1)) AS t(i)
                WHERE doc_id < 5),
            dgrams AS (
                SELECT DISTINCT doc_id,
                       array_to_string(ws[i : i + 7], ' ') AS gram
                FROM words, unnest(range(1, greatest(len(ws) - 7, 0) + 1)) AS t(i))
            SELECT doc_id, count(*) AS n_overlaps
            FROM dgrams JOIN bgrams USING (gram)
            GROUP BY doc_id ORDER BY doc_id
        """,
        "repetition_docs": """
            WITH multi AS (
                SELECT doc_id,
                       array_to_string(
                         string_split_regex(text, '\\s+')[1:5], ' ')
                       || chr(10) || text || chr(10)
                       || array_to_string(
                            string_split_regex(text, '\\s+')[1:5], ' ')
                       AS text
                FROM documents),
            lines AS (
                SELECT doc_id, unnest(string_split(text, chr(10))) AS line
                FROM multi),
            nz AS (SELECT doc_id, line FROM lines
                   WHERE length(trim(line)) > 0),
            per_line AS (
                SELECT doc_id, line, count(*) AS c, length(line) AS len
                FROM nz GROUP BY doc_id, line),
            line_stats AS (
                SELECT doc_id,
                       sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE
                         / sum(c) AS dup_line_frac,
                       sum(CASE WHEN c > 1 THEN c * len ELSE 0 END)::DOUBLE
                         / sum(c * len) AS dup_line_char_frac
                FROM per_line GROUP BY doc_id),
            words AS (
                SELECT doc_id,
                       list_filter(
                         string_split_regex(
                           lower(regexp_replace(text, '[^\\w\\s]', ' ', 'g')),
                           '\\s+'),
                         w -> length(w) > 0) AS ws
                FROM multi),
            bigrams AS (
                SELECT doc_id, array_to_string(ws[i : i + 1], ' ') AS gram
                FROM words, unnest(range(1, greatest(len(ws) - 1, 0) + 1)) AS t(i)),
            per_gram AS (
                SELECT doc_id, gram, count(*) AS c,
                       length(gram) - 1 AS chars
                FROM bigrams GROUP BY doc_id, gram),
            gram_stats AS (
                SELECT doc_id,
                       max(c * chars)::DOUBLE / sum(c * chars)
                         AS top_bigram_char_frac
                FROM per_gram GROUP BY doc_id)
            SELECT l.doc_id, round(dup_line_frac, 6) AS dup_line_frac,
                   round(dup_line_char_frac, 6) AS dup_line_char_frac,
                   round(top_bigram_char_frac, 6) AS top_bigram_char_frac
            FROM line_stats l JOIN gram_stats g ON l.doc_id = g.doc_id
            ORDER BY l.doc_id
        """,
        "asof_purchase_attribution": """
            WITH e AS (
                SELECT event_id, user_id, event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
                FROM events),
            p AS (SELECT user_id, ts_s, event_id FROM e
                  WHERE event_type = 'purchase'),
            c0 AS (SELECT user_id, ts_s, max(event_id) AS click_id
                   FROM e WHERE event_type = 'click'
                   GROUP BY user_id, ts_s),
            u AS (
                SELECT user_id, ts_s, 1 AS is_left, event_id,
                       NULL::BIGINT AS click_id
                FROM p
                UNION ALL
                SELECT user_id, ts_s, 0, NULL, click_id FROM c0),
            m AS (
                SELECT *,
                       last_value(click_id IGNORE NULLS) OVER w
                           AS attributed_click,
                       last_value(CASE WHEN is_left = 0 THEN ts_s END
                                  IGNORE NULLS) OVER w AS click_ts_s
                FROM u
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts_s ASC, is_left ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW))
            SELECT event_id, user_id, attributed_click, click_ts_s
            FROM m WHERE is_left = 1 ORDER BY event_id
        """,
        "range_join_clicks": """
            WITH e AS (
                SELECT event_id, user_id, event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
                FROM events)
            SELECT c.event_id AS click_id, s.event_id AS signup_id
            FROM e c JOIN e s
              ON c.user_id = s.user_id
             AND c.event_type = 'click' AND s.event_type = 'signup'
             AND c.ts_s >= s.ts_s AND c.ts_s <= s.ts_s + 7200
            ORDER BY click_id, signup_id
        """,
        "time_rollup_events": """
            WITH g AS (
                SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket_start,
                       event_type, value FROM events
                UNION ALL
                SELECT 'day', date_trunc('day', ts), event_type, value
                FROM events
                UNION ALL
                SELECT 'month', date_trunc('month', ts), event_type, value
                FROM events)
            SELECT grain, bucket_start, event_type,
                   count(*) AS n, round(sum(value), 6) AS total
            FROM g GROUP BY grain, bucket_start, event_type
            ORDER BY grain, bucket_start, event_type
        """,
        "stratified_sample_docs": """
            WITH pos AS (
                SELECT doc_id, lang,
                       ('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)),
                                       1, 8))::BIGINT % 1000000 AS p
                FROM documents)
            SELECT doc_id, lang FROM pos
            WHERE p < CASE lang WHEN 'en' THEN 500000
                                WHEN 'de' THEN 250000
                                ELSE 100000 END
            ORDER BY doc_id
        """,
        "rule_closure_orders": """
            WITH bycust AS (
              SELECT printf('o-%d', o_orderkey) AS s,
                     printf('c-%d', o_custkey) AS o FROM orders),
            cnat AS (
              SELECT printf('c-%d', c_custkey) AS s,
                     printf('n-%d', c_nationkey) AS o FROM customer),
            nreg AS (
              SELECT printf('n-%d', n_nationkey) AS s,
                     printf('r-%d', n_regionkey) AS o FROM nation),
            onat AS (  -- rule 1: order in_nation (round 1)
              SELECT DISTINCT b.s, c.o FROM bycust b
              JOIN cnat c ON c.s = b.o),
            inat AS (SELECT s, o FROM cnat UNION SELECT s, o FROM onat),
            ireg AS (  -- rule 2 over every in_nation fact (rounds 1-2)
              SELECT DISTINCT i.s, r.o FROM inat i
              JOIN nreg r ON r.s = i.o)
            SELECT s AS subj, 'by_customer' AS pred, o AS obj FROM bycust
            UNION
            SELECT s, 'in_nation', o FROM inat
            UNION
            SELECT s, 'in_region', o FROM nreg
            UNION
            SELECT s, 'in_region', o FROM ireg
            UNION
            SELECT o, 'has_member', s FROM inat  -- rule 3 inverse
        """,
        "retention_cohorts_events": """
            WITH up AS (
              SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS p
              FROM events),
            first AS (SELECT u, min(p) AS cohort FROM up GROUP BY u),
            sizes AS (SELECT cohort, COUNT(*) AS n_cohort FROM first
                      GROUP BY cohort),
            act AS (
              SELECT f.cohort, up.p AS period, COUNT(*) AS n_active
              FROM up JOIN first f ON f.u = up.u
              GROUP BY f.cohort, up.p)
            SELECT a.cohort, a.period, a.n_active, s.n_cohort,
                   round(a.n_active / s.n_cohort, 6) AS retention
            FROM act a JOIN sizes s ON s.cohort = a.cohort
        """,
        "orders_snapshot_diff": """
            WITH o AS (
              SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
              FROM orders),
            n AS (
              SELECT o_orderkey, o_custkey,
                     CASE WHEN o_orderkey % 89 = 0
                          THEN round(o_totalprice + 1.0, 2)
                          ELSE o_totalprice END AS o_totalprice,
                     o_orderstatus
              FROM o WHERE o_orderkey % 97 <> 0
              UNION ALL
              SELECT o_orderkey + 1000000000, o_custkey, o_totalprice,
                     o_orderstatus
              FROM o WHERE o_orderkey % 101 = 0),
            j AS (
              SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                     o.o_orderkey IS NOT NULL AS in_old,
                     n.o_orderkey IS NOT NULL AS in_new,
                     list_filter([
                       CASE WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
                            THEN 'o_custkey' END,
                       CASE WHEN o.o_orderstatus
                                 IS DISTINCT FROM n.o_orderstatus
                            THEN 'o_orderstatus' END,
                       CASE WHEN o.o_totalprice
                                 IS DISTINCT FROM n.o_totalprice
                            THEN 'o_totalprice' END],
                       x -> x IS NOT NULL) AS cc
              FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
            SELECT o_orderkey,
                   CASE WHEN NOT in_old THEN 'added'
                        WHEN NOT in_new THEN 'removed'
                        ELSE 'changed' END AS change,
                   CASE WHEN in_old AND in_new
                        THEN array_to_string(cc, ',')
                        ELSE '' END AS changed_cols
            FROM j
            WHERE NOT in_old OR NOT in_new OR len(cc) > 0
        """,
        "entity_fact_rank_docs": """
            WITH tr0 AS (
              SELECT printf('doc-%09d', doc_id) AS subj, 'lang' AS pred,
                     lang AS obj FROM documents
              UNION ALL
              SELECT printf('doc-%09d', doc_id), 'source', source
              FROM documents
              UNION ALL
              SELECT printf('doc-%09d', doc_id), 'n_chars',
                     CAST(n_chars AS VARCHAR) FROM documents
              UNION ALL
              SELECT printf('doc-%09d', doc_id), 'mentions', w
              FROM documents,
                   unnest(list_distinct(list_filter(
                     string_split_regex(lower(trim(text)), '\\s+'),
                     x -> length(x) >= 6))) AS t(w)),
            tr AS (SELECT DISTINCT subj, pred, obj FROM tr0),
            dfreq AS (
              SELECT pred, obj, COUNT(DISTINCT subj) AS df
              FROM tr GROUP BY pred, obj),
            nn AS (SELECT COUNT(DISTINCT subj) AS n FROM tr),
            scored AS (
              SELECT t.subj, t.pred, t.obj, d.df,
                     ln(CAST(nn.n AS DOUBLE) / d.df) AS score
              FROM tr t
              JOIN dfreq d ON d.pred = t.pred AND d.obj = t.obj
              CROSS JOIN nn),
            ranked AS (
              SELECT subj, pred, obj, df, score,
                     row_number() OVER (
                       PARTITION BY subj
                       ORDER BY score DESC, pred ASC, obj ASC) AS rank
              FROM scored)
            SELECT subj, pred, obj, df, round(score, 6) AS score, rank
            FROM ranked WHERE rank <= 3
        """,
        "weighted_sample_docs": """
            WITH h AS (
                SELECT doc_id, lang, n_chars,
                       ((('0x' || substr(md5('wsample|'
                             || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                         % 1000000) + 0.5) / 1000000.0 AS u
                FROM documents),
            r AS (
                SELECT doc_id, lang, n_chars,
                       row_number() OVER (
                         PARTITION BY lang
                         ORDER BY -ln(u) / greatest(
                                    CAST(n_chars AS DOUBLE), 1e-9) ASC,
                                  doc_id ASC) AS rn
                FROM h)
            SELECT doc_id, lang, n_chars FROM r WHERE rn <= 5
        """,
        "shacl_violations_docs": """
            WITH tr AS (
              SELECT printf('doc-%09d', doc_id) AS subj, 'lang' AS pred,
                     lang AS obj FROM documents
              UNION ALL
              SELECT printf('doc-%09d', doc_id), 'source', source
              FROM documents
              UNION ALL
              SELECT printf('doc-%09d', doc_id), 'n_chars',
                     CAST(n_chars AS VARCHAR) FROM documents
              UNION ALL
              SELECT printf('doc-%09d', doc_id), 'mentions', w
              FROM documents,
                   unnest(list_distinct(list_filter(
                     string_split_regex(lower(trim(text)), '\\s+'),
                     x -> length(x) >= 6))) AS t(w)),
            counts AS (
              SELECT subj, pred, COUNT(*) AS c FROM tr
              WHERE pred IN ('mentions', 'n_chars')
              GROUP BY subj, pred),
            subs AS (SELECT DISTINCT subj FROM tr),
            card AS (
              SELECT s.subj, p.pred, coalesce(c.c, 0) AS observed
              FROM subs s
              CROSS JOIN (VALUES ('mentions'), ('n_chars')) p(pred)
              LEFT JOIN counts c
                ON c.subj = s.subj AND c.pred = p.pred),
            minv AS (
              SELECT subj, pred, 'min_count' AS violation, observed
              FROM card
              WHERE (pred = 'mentions' AND observed < 1)
                 OR (pred = 'n_chars' AND observed < 1)),
            maxv AS (
              SELECT subj, pred, 'max_count' AS violation, observed
              FROM card
              WHERE (pred = 'mentions' AND observed > 4)
                 OR (pred = 'n_chars' AND observed > 1)),
            pat AS (
              SELECT subj, pred, 'pattern' AS violation,
                     COUNT(*) AS observed
              FROM tr
              WHERE (pred = 'n_chars'
                     AND NOT regexp_matches(obj, '^[0-9]{1,3}$'))
                 OR (pred = 'lang'
                     AND NOT regexp_matches(obj, '^(en|de|es)$'))
              GROUP BY subj, pred)
            SELECT subj, pred, violation, CAST(observed AS BIGINT)
                     AS observed
            FROM (SELECT * FROM minv UNION ALL SELECT * FROM maxv
                  UNION ALL SELECT * FROM pat)
        """,
        "hybrid_search_topk": """
            WITH ids AS (
                SELECT printf('rec-%05d', e.vec_id) AS record_id,
                       e.vec_id, d.text
                FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
            -- BM25 path (exp(raw/10) normalization)
            toks AS (
                SELECT record_id,
                       len(string_split_regex(lower(regexp_replace(text, '[^\\w\\s]', ' ', 'g')), '\\s+')) AS dl,
                       unnest(string_split_regex(lower(regexp_replace(text, '[^\\w\\s]', ' ', 'g')), '\\s+')) AS term
                FROM ids),
            postings AS (
                SELECT record_id, dl, term, count(*) AS tf FROM toks
                WHERE length(term) > 0 GROUP BY record_id, dl, term),
            stats AS (
                SELECT (SELECT count(*) FROM ids) AS n,
                       (SELECT avg(dl) FROM (SELECT DISTINCT record_id, dl FROM postings)) AS avgdl),
            q AS (SELECT * FROM postings WHERE term IN ('spark', 'merge')),
            dfreq AS (SELECT term, count(DISTINCT record_id) AS df FROM q GROUP BY term),
            w AS (
                SELECT q.record_id,
                       ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                       * (q.tf * 2.2)
                       / (q.tf + 1.2 * (1 - 0.75 + 0.75 * q.dl / stats.avgdl)) AS wt
                FROM q JOIN dfreq USING (term), stats),
            fts AS (SELECT record_id,
                           round(exp(-round(sum(wt), 6) / 10), 6) AS a
                    FROM w GROUP BY record_id),
            -- vector path: dot(vector, unit(query))
            qv AS (SELECT unnest(embedding)::DOUBLE AS x,
                          generate_subscripts(embedding, 1) AS k
                   FROM embeddings WHERE vec_id = 0),
            qn AS (SELECT sqrt(sum(x * x)) AS n FROM qv),
            qu AS (SELECT k, x / qn.n AS qx FROM qv, qn),
            ev AS (SELECT vec_id, unnest(embedding)::DOUBLE AS vx,
                          generate_subscripts(embedding, 1) AS k
                   FROM embeddings),
            vec AS (SELECT printf('rec-%05d', ev.vec_id) AS record_id,
                           round(sum(vx * qx), 6) AS b
                    FROM ev JOIN qu USING (k) GROUP BY ev.vec_id),
            -- diminishing merge of up to two appearances, cap 1.0
            merged AS (
                SELECT coalesce(f.record_id, v.record_id) AS record_id,
                       round(least(1.0,
                           CASE WHEN f.a IS NOT NULL AND v.b IS NOT NULL
                                THEN greatest(f.a, v.b) + 0.5 * least(f.a, v.b)
                                ELSE coalesce(f.a, v.b) END), 6) AS relevance
                FROM fts f FULL OUTER JOIN vec v ON f.record_id = v.record_id)
            SELECT record_id, relevance FROM merged
            WHERE relevance >= 0.0
            ORDER BY relevance DESC, record_id ASC LIMIT 20
        """,
        "ask_prompt_facts": """
            WITH q AS (
                SELECT unnest(embedding)::DOUBLE AS x,
                       generate_subscripts(embedding, 1) AS k
                FROM embeddings WHERE vec_id = 0),
            qn AS (SELECT sqrt(sum(x * x)) AS n FROM q),
            qu AS (SELECT k, x / qn.n AS qx FROM q, qn),
            ev AS (SELECT vec_id, unnest(embedding)::DOUBLE AS vx,
                          generate_subscripts(embedding, 1) AS k
                   FROM embeddings),
            dots AS (SELECT vec_id, sum(vx * qx) AS dot
                     FROM ev JOIN qu USING (k) GROUP BY vec_id),
            matches AS (
                SELECT printf('rec-%05d', d.vec_id) AS id,
                       printf('doc-%05d', doc.doc_id) AS doc_id,
                       d.dot,
                       round(d.dot, 6) AS rel6,
                       printf('doc-%05d.txt', doc.doc_id) AS file,
                       trim(substr(doc.text, 1, 120)) AS text
                FROM dots d JOIN documents doc ON d.vec_id = doc.doc_id
                WHERE d.dot >= 0.0),
            topk AS (SELECT * FROM (
                SELECT m.*, row_number() OVER (ORDER BY dot DESC, id ASC) AS rn
                FROM matches m) WHERE rn <= 100),
            dedup AS (SELECT * FROM (
                SELECT t.*, row_number() OVER (PARTITION BY text
                                               ORDER BY dot DESC) AS dn
                FROM topk t) WHERE dn = 1),
            facts AS (SELECT id, doc_id, rel6,
                '==== [File:' || file || ';Relevance:'
                || printf('%.1f%%', rel6 * 100) || ']:' || chr(10)
                || text || chr(10) AS fact
                FROM dedup),
            tok AS (SELECT *, CAST(ceil(length(fact) / 4.0) AS INT)
                             AS token_count FROM facts),
            kept AS (SELECT * FROM (
                SELECT t.*, sum(token_count) OVER (
                    ORDER BY rel6 DESC, id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM tok t) WHERE cum < 1129)
            SELECT id, doc_id, round(rel6, 3) AS relevance, fact, token_count
            FROM kept ORDER BY relevance DESC, id ASC
        """,
        "search_end_to_end": """
            WITH matched AS (
                SELECT doc_id, text FROM documents
                WHERE contains(lower(text), 'spark')
                   OR contains(lower(text), 'merge')),
            -- FTS5 bm25() parity: postings/stats/df over the WHOLE corpus;
            -- the predicate only restricts which docs get scored
            toks AS (
                SELECT doc_id AS doc,
                       len(string_split_regex(lower(regexp_replace(text, '[^\\w\\s]', ' ', 'g')), '\\s+')) AS dl,
                       unnest(string_split_regex(lower(regexp_replace(text, '[^\\w\\s]', ' ', 'g')), '\\s+')) AS term
                FROM documents),
            postings AS (
                SELECT doc, dl, term, count(*) AS tf FROM toks
                WHERE length(term) > 0 GROUP BY doc, dl, term),
            stats AS (
                SELECT (SELECT count(*) FROM documents) AS n,
                       (SELECT avg(dl) FROM (SELECT DISTINCT doc, dl FROM postings)) AS avgdl),
            dfreq AS (SELECT term, count(DISTINCT doc) AS df
                      FROM postings WHERE term IN ('spark', 'merge')
                      GROUP BY term),
            q AS (SELECT * FROM postings
                  WHERE term IN ('spark', 'merge')
                    AND doc IN (SELECT doc_id FROM matched)),
            w AS (
                SELECT q.doc,
                       ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                       * (q.tf * 2.2)
                       / (q.tf + 1.2 * (1 - 0.75 + 0.75 * q.dl / stats.avgdl)) AS wt
                FROM q JOIN dfreq USING (term), stats),
            scores AS (SELECT doc, round(sum(wt), 6) AS score FROM w GROUP BY doc),
            -- per-appearance relevance = exp(raw/10), raw = -classic bm25
            appear AS (SELECT doc, round(exp(-score / 10), 6) AS rel FROM scores),
            -- both nodes hold the corpus: weighted scores rel*1.0, rel*0.9;
            -- diminishing merge = s1 + s2*0.5, capped at 1.0
            rer AS (
                SELECT doc AS record_id,
                       round(least(1.0, rel * 1.0 + rel * 0.9 * 0.5), 6) AS relevance
                FROM appear)
            SELECT record_id, relevance FROM rer
            WHERE relevance >= 0.3
            ORDER BY relevance DESC, record_id ASC
            LIMIT 20 OFFSET 5
        """,
        "facts_token_budget": """
            SELECT event_id FROM (
                SELECT event_id,
                       sum(length(props)) OVER (
                           ORDER BY value DESC, event_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS cum
                FROM events) WHERE cum <= 4000
        """,
        "summarize_docs": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CASE WHEN ceil(length(text) / 4.0) <= 40 THEN text
                        ELSE trim(substr(text, 1, 160))
                   END AS summary
            FROM documents
        """,
        "pagerank_copurchase": _pagerank_sql(3),
        # warm-start parity: 3 warm iterations from a 3-iteration snapshot
        # must equal a 6-iteration cold run (pure-function sync update)
        "pagerank_warm_parts": _pagerank_sql(6),
        "transitive_closure_parts": _REPEAT_GRAPH_CTE
        + """
            , r1 AS (SELECT src, dst FROM und
                     UNION
                     SELECT a.src, b.dst FROM und a
                     JOIN und b ON a.dst = b.src)
            , r2 AS (SELECT src, dst FROM r1
                     UNION
                     SELECT a.src, b.dst FROM r1 a
                     JOIN r1 b ON a.dst = b.src)
            SELECT DISTINCT src, dst FROM r2
        """,
        "community_rollup_parts": _REPEAT_GRAPH_CTE
        + """
            , l0 AS (SELECT DISTINCT src AS node, src AS label FROM adj)
            , c1 AS (SELECT a.src AS node, l.label, COUNT(*) AS votes
                     FROM adj a JOIN l0 l ON l.node = a.dst
                     GROUP BY a.src, l.label)
            , l1 AS (SELECT node, label FROM (
                       SELECT node, label, row_number() OVER (
                         PARTITION BY node ORDER BY votes DESC, label ASC
                       ) AS rn FROM c1) WHERE rn = 1)
            , c2 AS (SELECT a.src AS node, l.label, COUNT(*) AS votes
                     FROM adj a JOIN l1 l ON l.node = a.dst
                     GROUP BY a.src, l.label)
            , l2 AS (SELECT node, label FROM (
                       SELECT node, label, row_number() OVER (
                         PARTITION BY node ORDER BY votes DESC, label ASC
                       ) AS rn FROM c2) WHERE rn = 1)
            , c3 AS (SELECT a.src AS node, l.label, COUNT(*) AS votes
                     FROM adj a JOIN l2 l ON l.node = a.dst
                     GROUP BY a.src, l.label)
            , l3 AS (SELECT node, label FROM (
                       SELECT node, label, row_number() OVER (
                         PARTITION BY node ORDER BY votes DESC, label ASC
                       ) AS rn FROM c3) WHERE rn = 1)
            SELECT least(ls.label, ld.label) AS c_src,
                   greatest(ls.label, ld.label) AS c_dst,
                   COUNT(*) AS n_edges,
                   CAST(SUM(CASE WHEN ls.label = ld.label
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_intra
            FROM und e
            JOIN l3 ls ON ls.node = e.src
            JOIN l3 ld ON ld.node = e.dst
            GROUP BY 1, 2
        """,
        "scd2_orders": """
            SELECT o_custkey, o_orderkey, o_orderstatus,
                   o_orderdate AS valid_from,
                   lead(o_orderdate) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderkey ASC
                   ) AS valid_to,
                   (lead(o_orderdate) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderkey ASC
                   ) IS NULL) AS is_current
            FROM orders
        """,
        "orders_asof_snapshot": """
            WITH v AS (
              SELECT o_custkey, o_orderkey, o_orderstatus,
                     o_orderdate AS valid_from,
                     lead(o_orderdate) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate ASC, o_orderkey ASC
                     ) AS valid_to
              FROM orders)
            SELECT o_custkey, o_orderkey, o_orderstatus FROM v
            WHERE valid_from <= DATE '1995-06-17'
              AND (valid_to IS NULL OR valid_to > DATE '1995-06-17')
        """,
        # incremental == full recompute: scd2_apply's oracle IS the
        # from-scratch versioning SQL
        "scd2_upsert_orders": """
            SELECT o_custkey, o_orderkey, o_orderstatus,
                   o_orderdate AS valid_from,
                   lead(o_orderdate) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderkey ASC
                   ) AS valid_to,
                   (lead(o_orderdate) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderkey ASC
                   ) IS NULL) AS is_current
            FROM orders
        """,
        "funnel_events": """
            WITH s1 AS (
              SELECT user_id, MIN(ts) AS t_1 FROM events
              WHERE event_type = 'view' GROUP BY user_id),
            s2 AS (
              SELECT e.user_id, MIN(e.ts) AS t_2 FROM events e
              JOIN s1 ON s1.user_id = e.user_id
              WHERE e.event_type = 'click' AND e.ts > s1.t_1
              GROUP BY e.user_id),
            s3 AS (
              SELECT e.user_id, MIN(e.ts) AS t_3 FROM events e
              JOIN s2 ON s2.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s2.t_2
              GROUP BY e.user_id)
            SELECT s1.user_id, t_1, t_2, t_3,
                   (1 + CASE WHEN t_2 IS NULL THEN 0 ELSE 1 END
                      + CASE WHEN t_3 IS NULL THEN 0 ELSE 1 END)
                       AS steps_completed
            FROM s1
            LEFT JOIN s2 ON s2.user_id = s1.user_id
            LEFT JOIN s3 ON s3.user_id = s1.user_id
        """,
        "bgp_match_docs": """
            WITH t AS (
              SELECT printf('doc-%09d', doc_id) AS subj, 'lang' AS pred,
                     lang AS obj FROM documents
              UNION ALL
              SELECT printf('doc-%09d', doc_id), 'source', source
              FROM documents
              UNION ALL
              SELECT printf('doc-%09d', doc_id), 'n_chars',
                     CAST(n_chars AS VARCHAR) FROM documents)
            SELECT DISTINCT a.subj AS d, b.obj AS src, c.obj AS n
            FROM t a
            JOIN t b ON b.subj = a.subj
            JOIN t c ON c.subj = a.subj
            WHERE a.pred = 'lang' AND a.obj = 'en'
              AND b.pred = 'source' AND c.pred = 'n_chars'
        """,
        "meta_block_docs": """
            WITH w AS (
              SELECT doc_id AS e,
                     string_split_regex(lower(trim(text)), '\\s+') AS ws
              FROM documents),
            a AS (
              SELECT DISTINCT e,
                     array_to_string(ws[i:i+4], ' ') AS blk
              FROM w, unnest(range(1, greatest(len(ws) - 3, 1)))
                       AS t(i)),
            sizes AS (SELECT blk, COUNT(*) AS n FROM a GROUP BY blk),
            kept AS (
              SELECT a.e, a.blk FROM a
              JOIN sizes s ON s.blk = a.blk AND s.n <= 50),
            pairs AS (
              SELECT x.e AS a, y.e AS b, COUNT(*) AS n_common_blocks
              FROM kept x JOIN kept y ON x.blk = y.blk AND x.e < y.e
              GROUP BY x.e, y.e
              HAVING COUNT(*) >= 2),
            ranked AS (
              SELECT *,
                     row_number() OVER (PARTITION BY a
                       ORDER BY n_common_blocks DESC, b ASC) AS ra,
                     row_number() OVER (PARTITION BY b
                       ORDER BY n_common_blocks DESC, a ASC) AS rb
              FROM pairs)
            SELECT a, b, n_common_blocks FROM ranked
            WHERE ra <= 3 OR rb <= 3
        """,
        "er_match_scores_docs": """
            WITH w AS (
              SELECT doc_id AS e,
                     string_split_regex(lower(trim(text)), '\\s+') AS ws
              FROM documents),
            asg AS (
              SELECT DISTINCT e,
                     array_to_string(ws[i:i+4], ' ') AS blk
              FROM w, unnest(range(1, greatest(len(ws) - 3, 1)))
                       AS t(i)),
            sizes AS (SELECT blk, COUNT(*) AS n FROM asg GROUP BY blk),
            kept AS (
              SELECT asg.e, asg.blk FROM asg
              JOIN sizes s ON s.blk = asg.blk AND s.n <= 50),
            prs AS (
              SELECT x.e AS a, y.e AS b, COUNT(*) AS wgt
              FROM kept x JOIN kept y ON x.blk = y.blk AND x.e < y.e
              GROUP BY x.e, y.e HAVING COUNT(*) >= 2),
            cand AS (
              SELECT a, b FROM (
                SELECT a, b,
                       row_number() OVER (PARTITION BY a
                         ORDER BY wgt DESC, b ASC) AS ra,
                       row_number() OVER (PARTITION BY b
                         ORDER BY wgt DESC, a ASC) AS rb
                FROM prs) WHERE ra <= 3 OR rb <= 3),
            rec AS (
              SELECT doc_id AS k, lower(trim(text)) AS t FROM documents),
            feat AS (
              SELECT c.a, c.b,
                     list_distinct(string_split_regex(ra.t, '\\s+')) AS wa,
                     list_distinct(string_split_regex(rb.t, '\\s+')) AS wb,
                     substr(ra.t, 1, 80) AS pa,
                     substr(rb.t, 1, 80) AS pb,
                     length(ra.t) AS la, length(rb.t) AS lb
              FROM cand c
              JOIN rec ra ON ra.k = c.a
              JOIN rec rb ON rb.k = c.b),
            fx AS (
              SELECT a, b,
                     len(list_filter(wa, x -> list_contains(wb, x)))
                       / greatest(len(wa) + len(wb)
                           - len(list_filter(wa, x -> list_contains(wb, x))),
                           1) AS jac,
                     1.0 - levenshtein(pa, pb)
                       / greatest(length(pa), length(pb), 1) AS lev,
                     least(la, lb) / greatest(la, lb, 1) AS lenr
              FROM feat),
            sc AS (
              SELECT a, b,
                     round(jac, 6) AS token_jaccard,
                     round(lev, 6) AS lev_sim,
                     round(lenr, 6) AS len_ratio,
                     round(0.5 * jac + 0.3 * lev + 0.2 * lenr, 6)
                       AS score
              FROM fx)
            SELECT a, b, token_jaccard, lev_sim, len_ratio, score,
                   CASE WHEN score >= 0.75 THEN 'match'
                        WHEN score >= 0.45 THEN 'possible'
                        ELSE 'non_match' END AS tier
            FROM sc
        """,
        "sorted_neighborhood_docs": """
            WITH ranked AS (
              SELECT doc_id AS e,
                     row_number() OVER (ORDER BY
                       substr(lower(trim(text)), 1, 20)
                       || '|' || CAST(doc_id AS VARCHAR)) - 1 AS r
              FROM documents)
            SELECT x.e AS a, y.e AS b, y.r - x.r AS rank_dist
            FROM ranked x JOIN ranked y
              ON y.r > x.r AND y.r - x.r < 3
        """,
        "blocking_quality_docs": """
            WITH w AS (
              SELECT doc_id AS e,
                     string_split_regex(lower(trim(text)), '\\s+') AS ws
              FROM documents),
            asg AS (
              SELECT DISTINCT e,
                     array_to_string(ws[i:i+4], ' ') AS blk
              FROM w, unnest(range(1, greatest(len(ws) - 3, 1)))
                       AS t(i)),
            sizes AS (SELECT blk, COUNT(*) AS n FROM asg GROUP BY blk),
            kept AS (
              SELECT asg.e, asg.blk FROM asg
              JOIN sizes s ON s.blk = asg.blk AND s.n <= 50),
            pairs AS (
              SELECT x.e AS a, y.e AS b, COUNT(*) AS w
              FROM kept x JOIN kept y ON x.blk = y.blk AND x.e < y.e
              GROUP BY x.e, y.e HAVING COUNT(*) >= 2),
            cand AS (
              SELECT a, b FROM (
                SELECT a, b,
                       row_number() OVER (PARTITION BY a
                         ORDER BY w DESC, b ASC) AS ra,
                       row_number() OVER (PARTITION BY b
                         ORDER BY w DESC, a ASC) AS rb
                FROM pairs) WHERE ra <= 3 OR rb <= 3),
            kept5 AS (
              SELECT asg.e, asg.blk FROM asg
              JOIN sizes s ON s.blk = asg.blk AND s.n <= 500),
            truth AS (
              SELECT x.e AS a, y.e AS b
              FROM kept5 x JOIN kept5 y ON x.blk = y.blk AND x.e < y.e
              GROUP BY x.e, y.e HAVING COUNT(*) >= 20),
            m AS (
              SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
                     (SELECT COUNT(*) FROM truth) AS n_true,
                     (SELECT COUNT(*) FROM truth t
                      WHERE EXISTS (SELECT 1 FROM cand c
                                    WHERE c.a = t.a AND c.b = t.b))
                       AS n_covered,
                     (SELECT COUNT(*) FROM documents) AS nn)
            SELECT n_candidates, n_true, n_covered,
                   round(CASE WHEN n_true > 0
                         THEN n_covered / n_true ELSE 1.0 END, 6)
                     AS pairs_completeness,
                   round(1.0 - n_candidates / (nn * (nn - 1) / 2.0), 6)
                     AS reduction_ratio
            FROM m
        """,
        "type_hierarchy_parts": """
            WITH a AS (
              SELECT p_partkey AS e, p_type AS t FROM part
              UNION
              SELECT p_partkey, p_brand FROM part
              UNION
              SELECT p_partkey, p_type || '/' || p_brand FROM part
            ), counts AS (
              SELECT t, COUNT(*) AS n FROM a GROUP BY t
            ), pairs AS (
              SELECT x.t AS ta, y.t AS tb, COUNT(*) AS n_common
              FROM a x JOIN a y ON x.e = y.e AND x.t <> y.t
              GROUP BY x.t, y.t)
            SELECT ta AS sub_type, tb AS super_type,
                   ca.n AS n_sub, cb.n AS n_super, n_common,
                   round(n_common / ca.n, 6) AS containment
            FROM pairs
            JOIN counts ca ON ca.t = pairs.ta
            JOIN counts cb ON cb.t = pairs.tb
            WHERE n_common >= 1.0 * ca.n
              AND (ca.n < cb.n OR (ca.n = cb.n AND ta < tb))
        """,
        "truth_discovery_orders": """
            WITH votes AS (
              SELECT o_custkey AS subj, 'status' AS pred,
                     o_orderstatus AS obj, COUNT(*) AS n_votes
              FROM orders GROUP BY 1, 2, 3)
            SELECT subj, pred, obj, n_votes, n_alternatives FROM (
              SELECT subj, pred, obj, n_votes,
                     COUNT(*) OVER (PARTITION BY subj, pred)
                       AS n_alternatives,
                     row_number() OVER (
                       PARTITION BY subj, pred
                       ORDER BY n_votes DESC, obj ASC) AS rn
              FROM votes) WHERE rn = 1
        """,
        "property_table_docs": """
            WITH t AS (
              SELECT printf('doc-%09d', doc_id) AS subj, 'lang' AS pred,
                     lang AS obj FROM documents
              UNION ALL
              SELECT printf('doc-%09d', doc_id), 'source', source
              FROM documents
              UNION ALL
              SELECT printf('doc-%09d', doc_id), 'n_chars',
                     CAST(n_chars AS VARCHAR) FROM documents)
            SELECT subj,
                   MIN(CASE WHEN pred = 'lang' THEN obj END) AS lang,
                   MIN(CASE WHEN pred = 'source' THEN obj END) AS source,
                   MIN(CASE WHEN pred = 'n_chars' THEN obj END) AS n_chars
            FROM t GROUP BY subj
        """,
        "predicate_stats_docs": """
            WITH t AS (
              SELECT printf('doc-%09d', doc_id) AS subj, 'lang' AS pred,
                     lang AS obj FROM documents
              UNION ALL
              SELECT printf('doc-%09d', doc_id), 'source', source
              FROM documents
              UNION ALL
              SELECT printf('doc-%09d', doc_id), 'n_chars',
                     CAST(n_chars AS VARCHAR) FROM documents)
            SELECT pred, COUNT(*) AS n_triples,
                   COUNT(DISTINCT subj) AS n_subj,
                   COUNT(DISTINCT obj) AS n_obj,
                   round(COUNT(DISTINCT subj) / COUNT(*), 6)
                     AS functionality,
                   round(COUNT(DISTINCT obj) / COUNT(*), 6)
                     AS inv_functionality
            FROM t GROUP BY pred
        """,
        "triangle_counts_parts": _GRAPH_CTE
        + """
            , deg AS (SELECT src AS node, COUNT(*) AS deg FROM adj GROUP BY src)
            , oriented AS (
                SELECT e.src AS u, e.dst AS v FROM adj e
                JOIN deg da ON da.node = e.src
                JOIN deg db ON db.node = e.dst
                WHERE (da.deg < db.deg)
                   OR (da.deg = db.deg AND e.src < e.dst))
            , wedges AS (
                SELECT e1.u AS u, e1.v AS v, e2.v AS w
                FROM oriented e1 JOIN oriented e2
                  ON e1.u = e2.u AND e1.v < e2.v)
            , tris AS (
                SELECT wg.u, wg.v, wg.w FROM wedges wg
                WHERE EXISTS (SELECT 1 FROM und c
                              WHERE c.src = wg.v AND c.dst = wg.w))
            , corners AS (
                SELECT u AS part FROM tris
                UNION ALL SELECT v FROM tris
                UNION ALL SELECT w FROM tris)
            SELECT part, COUNT(*) AS n_triangles FROM corners GROUP BY part
        """,
        "hits_parts": _hits_sql(3),
        "clustering_coeff_parts": _GRAPH_CTE
        + """
            , deg AS (SELECT src AS node, COUNT(*) AS deg FROM adj GROUP BY src)
            , oriented AS (
                SELECT e.src AS u, e.dst AS v FROM adj e
                JOIN deg da ON da.node = e.src
                JOIN deg db ON db.node = e.dst
                WHERE (da.deg < db.deg)
                   OR (da.deg = db.deg AND e.src < e.dst))
            , wedges AS (
                SELECT e1.u AS u, e1.v AS v, e2.v AS w
                FROM oriented e1 JOIN oriented e2
                  ON e1.u = e2.u AND e1.v < e2.v)
            , tris AS (
                SELECT wg.u, wg.v, wg.w FROM wedges wg
                WHERE EXISTS (SELECT 1 FROM und c
                              WHERE c.src = wg.v AND c.dst = wg.w))
            , corners AS (
                SELECT u AS node FROM tris
                UNION ALL SELECT v FROM tris
                UNION ALL SELECT w FROM tris)
            , tcount AS (SELECT node, COUNT(*) AS n_triangles
                         FROM corners GROUP BY node)
            SELECT d.node AS part, d.deg,
                   COALESCE(t.n_triangles, 0) AS n_triangles,
                   round(CASE WHEN d.deg >= 2
                         THEN 2.0 * COALESCE(t.n_triangles, 0)
                              / (d.deg * (d.deg - 1.0))
                         ELSE 0.0 END, 6) AS lcc
            FROM deg d LEFT JOIN tcount t ON t.node = d.node
        """,
        "adamic_adar_parts": _REPEAT_GRAPH_CTE
        + """
            , deg AS (SELECT src AS w, COUNT(*) AS deg_w FROM adj GROUP BY src)
            , thru AS (SELECT a.src AS w, a.dst AS u, d.deg_w
                       FROM adj a JOIN deg d ON d.w = a.src)
            , pairs AS (
                SELECT l.u AS u, r.u AS v, COUNT(*) AS n_common,
                       SUM(1.0 / ln(CAST(l.deg_w AS DOUBLE))) AS score
                FROM thru l JOIN thru r ON l.w = r.w AND l.u < r.u
                GROUP BY l.u, r.u)
            SELECT p.u, p.v, p.n_common, round(p.score, 6) AS score
            FROM pairs p
            WHERE NOT EXISTS (SELECT 1 FROM und e
                              WHERE e.src = p.u AND e.dst = p.v)
        """,
        "neighbor_jaccard_parts": _REPEAT_GRAPH_CTE
        + """
            , deg AS (SELECT src AS w, COUNT(*) AS deg_w FROM adj GROUP BY src)
            , thru AS (SELECT src AS w, dst AS u FROM adj)
            , pairs AS (
                SELECT l.u AS u, r.u AS v, COUNT(*) AS n_common
                FROM thru l JOIN thru r ON l.w = r.w AND l.u < r.u
                GROUP BY l.u, r.u)
            SELECT p.u, p.v, p.n_common,
                   round(p.n_common
                         / (du.deg_w + dv.deg_w - p.n_common), 6)
                     AS jaccard
            FROM pairs p
            JOIN deg du ON du.w = p.u
            JOIN deg dv ON dv.w = p.v
            WHERE NOT EXISTS (SELECT 1 FROM und e
                              WHERE e.src = p.u AND e.dst = p.v)
        """,
        "adamic_adar_capped": _REPEAT_GRAPH_CTE
        + """
            , deg AS (SELECT src AS w, COUNT(*) AS deg_w FROM adj
                      GROUP BY src HAVING COUNT(*) <= 4)
            , thru AS (SELECT a.src AS w, a.dst AS u, d.deg_w
                       FROM adj a JOIN deg d ON d.w = a.src)
            , pairs AS (
                SELECT l.u AS u, r.u AS v, COUNT(*) AS n_common,
                       SUM(1.0 / ln(CAST(l.deg_w AS DOUBLE))) AS score
                FROM thru l JOIN thru r ON l.w = r.w AND l.u < r.u
                GROUP BY l.u, r.u)
            SELECT p.u, p.v, p.n_common, round(p.score, 6) AS score
            FROM pairs p
            WHERE NOT EXISTS (SELECT 1 FROM und e
                              WHERE e.src = p.u AND e.dst = p.v)
        """,
        "ktruss_parts": _REPEAT_GRAPH_CTE
        + """
            , s1 AS (
                SELECT e.src AS a, e.dst AS b, COUNT(*) AS support
                FROM und e
                JOIN adj x ON x.dst = e.src
                JOIN adj y ON y.dst = e.dst AND y.src = x.src
                GROUP BY e.src, e.dst)
            , k1 AS (
                SELECT u.src AS a, u.dst AS b FROM und u
                JOIN s1 ON s1.a = u.src AND s1.b = u.dst
                          AND s1.support >= 1)
            , adj1 AS (
                SELECT a AS src, b AS dst FROM k1
                UNION ALL SELECT b, a FROM k1)
            , s2 AS (
                SELECT e.a, e.b, COUNT(*) AS support
                FROM k1 e
                JOIN adj1 x ON x.dst = e.a
                JOIN adj1 y ON y.dst = e.b AND y.src = x.src
                GROUP BY e.a, e.b)
            SELECT a, b, support FROM s2 WHERE support >= 1
        """,
        "temporal_khop_parts": """
            WITH dated AS (
                SELECT l_orderkey, l_partkey, o_orderdate
                FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
            e AS (SELECT DISTINCT a.l_partkey AS src,
                         b.l_partkey AS dst, a.o_orderdate AS ts
                  FROM dated a JOIN dated b
                    ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey <> b.l_partkey),
            s AS (SELECT p_partkey AS node FROM part
                  WHERE p_partkey <= 2),
            f1 AS (SELECT e.dst AS node, MIN(e.ts) AS arr
                   FROM e JOIN s ON s.node = e.src GROUP BY e.dst),
            f2 AS (SELECT e2.dst AS node, MIN(e2.ts) AS arr
                   FROM f1 JOIN e e2
                     ON e2.src = f1.node AND e2.ts >= f1.arr
                   GROUP BY e2.dst),
            lv AS (SELECT node, 1 AS hops, arr FROM f1
                   UNION ALL SELECT node, 2, arr FROM f2),
            best AS (SELECT node, arr, hops,
                            row_number() OVER (PARTITION BY node
                                               ORDER BY arr, hops) AS rn
                     FROM lv)
            SELECT node AS part, CAST(0 AS INT) AS hops,
                   CAST(NULL AS TIMESTAMP) AS earliest_arrival
            FROM s
            UNION ALL
            SELECT b.node, CAST(b.hops AS INT), b.arr
            FROM best b
            WHERE rn = 1 AND b.node NOT IN (SELECT node FROM s)
        """,
        "harmonic_parts": _REPEAT_GRAPH_CTE
        + """
            , d1 AS (SELECT src AS root, dst AS node FROM adj)
            , d2 AS (
                SELECT DISTINCT a.src AS root, b.dst AS node
                FROM adj a JOIN adj b ON a.dst = b.src
                WHERE a.src <> b.dst
                  AND NOT EXISTS (SELECT 1 FROM d1
                                  WHERE d1.root = a.src
                                    AND d1.node = b.dst))
            , r AS (
                SELECT root, node, 1.0::DOUBLE AS inv FROM d1
                UNION ALL
                SELECT root, node, 0.5::DOUBLE AS inv FROM d2)
            SELECT root AS part,
                   CAST(COUNT(*) AS BIGINT) AS n_reached,
                   ROUND(SUM(inv), 6) AS score
            FROM r GROUP BY root
        """,
        # WITH RECURSIVE prefix: the mutual-pair closure is a genuine
        # fixpoint (component diameters are data-dependent), so the CC
        # side of the mirror is a recursive CTE, not an unrolled chain.
        "scc_parts": _REPEAT_GRAPH_CTE.replace(
            "WITH items", "WITH RECURSIVE items"
        )
        + """
            , dir AS (
                SELECT CASE WHEN substr(md5(CAST(src AS VARCHAR) || '|'
                                         || CAST(dst AS VARCHAR)), 1, 1)
                                 IN ('8','9','a','b','c','d','e','f')
                            THEN dst ELSE src END AS src,
                       CASE WHEN substr(md5(CAST(src AS VARCHAR) || '|'
                                         || CAST(dst AS VARCHAR)), 1, 1)
                                 IN ('8','9','a','b','c','d','e','f')
                            THEN src ELSE dst END AS dst
                FROM und)
            , r1 AS (SELECT src AS root, dst AS node FROM dir)
            , r2 AS (SELECT DISTINCT d1.src AS root, d2.dst AS node
                     FROM dir d1 JOIN dir d2 ON d1.dst = d2.src
                     WHERE d1.src <> d2.dst)
            , reach AS (SELECT root, node FROM r1
                        UNION SELECT root, node FROM r2)
            , mutual AS (
                SELECT l.root AS a, l.node AS b
                FROM reach l JOIN reach r
                  ON r.root = l.node AND r.node = l.root
                WHERE l.root < l.node)
            , msym AS (SELECT a, b FROM mutual
                       UNION SELECT b, a FROM mutual)
            , cr AS (
                SELECT a, b FROM msym
                UNION
                SELECT cr.a, m.b FROM cr JOIN msym m ON m.a = cr.b)
            , comp AS (SELECT a AS node, least(a, min(b)) AS scc_id
                       FROM cr GROUP BY a)
            , nodes AS (SELECT DISTINCT src AS node FROM adj)
            SELECT n.node AS part, COALESCE(c.scc_id, n.node) AS scc_id
            FROM nodes n LEFT JOIN comp c ON c.node = n.node
        """,
        "walk_counts_parts": _REPEAT_GRAPH_CTE
        + """
            SELECT a.src AS src, c.dst AS dst,
                   CAST(COUNT(*) AS BIGINT) AS n_walks
            FROM adj a
            JOIN adj b ON a.dst = b.src
            JOIN adj c ON b.dst = c.src
            GROUP BY a.src, c.dst
        """,
        "lpa_communities_parts": _REPEAT_GRAPH_CTE
        + _LPA3_CTES
        + """
            SELECT node AS part, label FROM l3
        """,
        "modularity_parts": _REPEAT_GRAPH_CTE
        + _LPA3_CTES
        + """
            , m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM und)
            , intra AS (
                SELECT la.label, CAST(COUNT(*) AS BIGINT) AS m_intra
                FROM und e
                JOIN l3 la ON la.node = e.src
                JOIN l3 lb ON lb.node = e.dst AND lb.label = la.label
                GROUP BY la.label)
            , deg AS (SELECT src AS node, COUNT(*) AS deg
                      FROM adj GROUP BY src)
            , dc AS (SELECT l.label,
                            CAST(COUNT(*) AS BIGINT) AS n_nodes,
                            CAST(SUM(d.deg) AS BIGINT) AS deg_sum
                     FROM l3 l JOIN deg d ON d.node = l.node
                     GROUP BY l.label)
            SELECT dc.label, dc.n_nodes,
                   COALESCE(i.m_intra, 0) AS m_intra, dc.deg_sum,
                   ROUND(COALESCE(i.m_intra, 0) / (SELECT m FROM m)
                         - POWER(dc.deg_sum
                                 / (2.0 * (SELECT m FROM m)), 2),
                         6) + 0.0 AS contribution
            FROM dc LEFT JOIN intra i ON i.label = dc.label
        """,
        "sssp_parts": """
            WITH items AS (
                SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                FROM lineitem),
            wpairs AS (
                SELECT a.i AS src, c.i AS dst, COUNT(*) AS n
                FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
                GROUP BY a.i, c.i HAVING COUNT(*) >= 2),
            wadj AS (
                SELECT src, dst, 1.0 / n AS w FROM wpairs
                UNION ALL SELECT dst, src, 1.0 / n FROM wpairs),
            d0 AS (SELECT p_partkey AS node, CAST(0.0 AS DOUBLE) AS dist
                   FROM part WHERE p_partkey <= 2),
            c1 AS (SELECT e.dst AS node, MIN(d.dist + e.w) AS dist
                   FROM wadj e JOIN d0 d ON d.node = e.src GROUP BY e.dst),
            d1 AS (SELECT node, MIN(dist) AS dist FROM (
                     SELECT * FROM d0 UNION ALL SELECT * FROM c1)
                   GROUP BY node),
            c2 AS (SELECT e.dst AS node, MIN(d.dist + e.w) AS dist
                   FROM wadj e JOIN d1 d ON d.node = e.src GROUP BY e.dst),
            d2 AS (SELECT node, MIN(dist) AS dist FROM (
                     SELECT * FROM d1 UNION ALL SELECT * FROM c2)
                   GROUP BY node),
            c3 AS (SELECT e.dst AS node, MIN(d.dist + e.w) AS dist
                   FROM wadj e JOIN d2 d ON d.node = e.src GROUP BY e.dst),
            d3 AS (SELECT node, MIN(dist) AS dist FROM (
                     SELECT * FROM d2 UNION ALL SELECT * FROM c3)
                   GROUP BY node)
            SELECT node AS part, round(dist, 6) AS dist FROM d3
        """,
        "kcore_parts": _REPEAT_GRAPH_CTE
        + """
            , d1 AS (SELECT src AS node, COUNT(*) AS deg FROM adj GROUP BY src)
            , n1 AS (SELECT node FROM d1 WHERE deg >= 3)
            , a1 AS (SELECT e.src, e.dst FROM adj e
                     JOIN n1 x ON x.node = e.src
                     JOIN n1 y ON y.node = e.dst)
            , d2 AS (SELECT src AS node, COUNT(*) AS deg FROM a1 GROUP BY src)
            , n2 AS (SELECT node FROM d2 WHERE deg >= 3)
            , a2 AS (SELECT e.src, e.dst FROM a1 e
                     JOIN n2 x ON x.node = e.src
                     JOIN n2 y ON y.node = e.dst)
            , d3 AS (SELECT src AS node, COUNT(*) AS deg FROM a2 GROUP BY src)
            SELECT node AS part FROM d3 WHERE deg >= 3
        """,
        "khop_parts": _GRAPH_CTE
        + """
            , d0 AS (SELECT p_partkey AS node FROM part WHERE p_partkey <= 2)
            , f1 AS (SELECT DISTINCT e.dst AS node
                     FROM adj e JOIN d0 ON d0.node = e.src
                     WHERE e.dst NOT IN (SELECT node FROM d0))
            , f2 AS (SELECT DISTINCT e.dst AS node
                     FROM adj e JOIN f1 ON f1.node = e.src
                     WHERE e.dst NOT IN (SELECT node FROM d0)
                       AND e.dst NOT IN (SELECT node FROM f1))
            SELECT node AS part, CAST(0 AS INT) AS dist FROM d0
            UNION ALL SELECT node, 1 FROM f1
            UNION ALL SELECT node, 2 FROM f2
        """,
        "token_shards_docs": """
            WITH toks AS (
                SELECT doc_id,
                       CAST(len(string_split_regex(trim(text), '\\s+'))
                            AS BIGINT) AS n_tokens
                FROM documents)
            SELECT doc_id, n_tokens,
                   CAST(floor(COALESCE(SUM(n_tokens) OVER (
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) / 2000)
                        AS BIGINT) AS shard
            FROM toks
            ORDER BY doc_id
        """,
        "temperature_mix_docs": """
            WITH b AS (
                SELECT doc_id,
                       CAST(floor(n_chars / 100) AS INT) AS len_bucket
                FROM documents),
            counts AS (
                SELECT len_bucket, COUNT(*) AS n FROM b GROUP BY len_bucket),
            tot AS (
                SELECT CAST(SUM(n) AS DOUBLE) AS N,
                       SUM(sqrt(CAST(n AS DOUBLE))) AS Z
                FROM counts),
            rates AS (
                SELECT c.len_bucket,
                       least(1.0::DOUBLE,
                             0.5::DOUBLE * t.N * sqrt(CAST(c.n AS DOUBLE))
                             / t.Z / CAST(c.n AS DOUBLE)) AS rate
                FROM counts c CROSS JOIN tot t)
            SELECT b.doc_id, b.len_bucket
            FROM b JOIN rates r ON b.len_bucket = r.len_bucket
            WHERE ('0x' || substr(md5('mix|' || CAST(b.doc_id AS VARCHAR)),
                                  1, 8))::BIGINT % 1000000
                  < CAST(floor(r.rate * 1000000) AS BIGINT)
            ORDER BY doc_id
        """,
        "pmi_copurchase_edges": """
            WITH items AS (
                SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                FROM lineitem),
            marg AS (SELECT i, COUNT(*) AS n FROM items GROUP BY i),
            tot AS (SELECT CAST(COUNT(DISTINCT b) AS DOUBLE) AS N
                    FROM items),
            pairs AS (
                SELECT a.i AS src, c.i AS dst, COUNT(*) AS n_pairs
                FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
                GROUP BY a.i, c.i
                HAVING COUNT(*) >= 2)
            SELECT p.src, p.dst, p.n_pairs,
                   round(ln(CAST(p.n_pairs AS DOUBLE) * t.N
                            / (CAST(ma.n AS DOUBLE) * mb.n)), 6) AS pmi
            FROM pairs p
            JOIN marg ma ON ma.i = p.src
            JOIN marg mb ON mb.i = p.dst
            CROSS JOIN tot t
        """,
        "neighbor_mean_embeddings": """
            WITH chain AS (
                SELECT e.vec_id AS src, e.vec_id + 1 AS dst
                FROM embeddings e
                WHERE e.vec_id + 1 IN (SELECT vec_id FROM embeddings)
                UNION ALL
                SELECT e.vec_id, e.vec_id + 2 FROM embeddings e
                WHERE e.vec_id + 2 IN (SELECT vec_id FROM embeddings)),
            und AS (
                SELECT DISTINCT least(src, dst) AS src,
                                greatest(src, dst) AS dst
                FROM chain WHERE src <> dst),
            adj AS (
                SELECT src, dst FROM und
                UNION ALL SELECT dst AS src, src AS dst FROM und),
            feat AS (
                SELECT e.vec_id, CAST(t.pos AS INT) AS pos,
                       e.embedding[CAST(t.pos AS INT) + 1] AS val
                FROM embeddings e,
                     unnest(range(len(e.embedding))) AS t(pos))
            SELECT a.dst AS node, f.pos,
                   round(avg(f.val), 6) AS mean_val
            FROM adj a JOIN feat f ON f.vec_id = a.src
            GROUP BY a.dst, f.pos
        """,
        "tfidf_keywords_docs": """
            WITH terms AS (
                SELECT doc_id AS id, t.term
                FROM documents,
                     unnest(string_split_regex(lower(text), '[^a-z]+'))
                         AS t(term)
                WHERE len(t.term) >= 3),
            tf AS (
                SELECT id, term, COUNT(*) AS tf
                FROM terms GROUP BY id, term),
            idf AS (
                SELECT term,
                       ln((1.0 + (SELECT COUNT(DISTINCT doc_id)
                                  FROM documents))
                          / (CAST(COUNT(*) AS DOUBLE) + 1.0)) + 1.0
                           AS idf
                FROM tf GROUP BY term),
            scored AS (
                SELECT tf.id, tf.term, tf.tf,
                       round(tf.tf * idf.idf, 6) AS score
                FROM tf JOIN idf ON tf.term = idf.term)
            SELECT id, term, tf, score,
                   CAST(rn AS INT) AS rn
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY id
                    ORDER BY score DESC, term) AS rn
                FROM scored)
            WHERE rn <= 5
        """,
        "quota_cap_docs": """
            SELECT doc_id, source
            FROM (
                SELECT doc_id, source, row_number() OVER (
                    PARTITION BY source
                    ORDER BY ('0x' || substr(md5('quota|'
                                  || CAST(doc_id AS VARCHAR)), 1, 8))
                                 ::BIGINT % 1000000,
                             doc_id) AS rn
                FROM documents)
            WHERE rn <= 15
            ORDER BY doc_id
        """,
        "conductance_parts": _REPEAT_GRAPH_CTE
        + _LPA3_CTES
        + """
            , cl AS (SELECT la.label AS la, lb.label AS lb
                     FROM und e
                     JOIN l3 la ON la.node = e.src
                     JOIN l3 lb ON lb.node = e.dst)
            , cutc AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS cut
                       FROM (SELECT la AS label FROM cl WHERE la <> lb
                             UNION ALL
                             SELECT lb FROM cl WHERE la <> lb)
                       GROUP BY label)
            , deg AS (SELECT src AS node, COUNT(*) AS deg
                      FROM adj GROUP BY src)
            , vol AS (SELECT l.label,
                             CAST(COUNT(*) AS BIGINT) AS n_nodes,
                             CAST(SUM(d.deg) AS BIGINT) AS volume
                      FROM l3 l JOIN deg d ON d.node = l.node
                      GROUP BY l.label)
            , m2 AS (SELECT 2.0 * COUNT(*) AS m2 FROM und)
            SELECT v.label, v.n_nodes, COALESCE(c.cut, 0) AS cut,
                   v.volume,
                   ROUND(COALESCE(c.cut, 0)
                         / NULLIF(least(CAST(v.volume AS DOUBLE),
                                        (SELECT m2 FROM m2) - v.volume),
                                  0), 6) + 0.0 AS conductance
            FROM vol v LEFT JOIN cutc c ON c.label = v.label
        """,
        "novelty_docs": """
            WITH w AS (
                SELECT doc_id,
                       list_filter(
                           string_split_regex(
                               lower(regexp_replace(text, '[^\\w\\s]',
                                                    ' ', 'g')),
                               '\\s+'),
                           x -> len(x) > 0) AS ws
                FROM documents),
            ix AS (SELECT doc_id, ws,
                          unnest(range(greatest(len(ws) - 2, 0))) AS i
                   FROM w),
            g AS (SELECT DISTINCT doc_id,
                         array_to_string(ws[i + 1 : i + 3], ' ') AS gram
                  FROM ix),
            gdf AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram)
            SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(SUM(CASE WHEN gdf.df = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_novel,
                   ROUND(SUM(CASE WHEN gdf.df = 1 THEN 1 ELSE 0 END)
                         / CAST(COUNT(*) AS DOUBLE), 6) AS novel_frac
            FROM g JOIN gdf USING (gram)
            GROUP BY g.doc_id
        """,
        "bcubed_dedup_docs": """
            WITH both_docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL SELECT doc_id + 100000, text FROM documents),
            w AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws
                  FROM both_docs),
            ix AS (SELECT doc_id, ws,
                          unnest(range(greatest(len(ws) - 2, 1))) AS i FROM w),
            g AS (SELECT DISTINCT doc_id,
                         array_to_string(ws[i + 1 : i + 3], ' ') AS gram
                  FROM ix),
            sig AS (SELECT doc_id,
                           min(md5('0|' || gram)) || '|' ||
                           min(md5('1|' || gram)) || '|' ||
                           min(md5('2|' || gram)) || '|' ||
                           min(md5('3|' || gram)) AS band
                    FROM g GROUP BY doc_id),
            -- pred = collapse components (band groups, see
            -- dedup_collapse_docs); truth = exact-text groups
            asg AS (SELECT s.doc_id AS id,
                           min(s.doc_id) OVER (PARTITION BY s.band) AS p,
                           min(d.doc_id) OVER (PARTITION BY d.text) AS t
                    FROM sig s JOIN both_docs d ON d.doc_id = s.doc_id),
            npt AS (SELECT p, t, CAST(COUNT(*) AS DOUBLE) AS n_pt
                    FROM asg GROUP BY p, t),
            np AS (SELECT p, CAST(COUNT(*) AS DOUBLE) AS n_p
                   FROM asg GROUP BY p),
            nt AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS n_t
                   FROM asg GROUP BY t),
            s AS (SELECT CAST(SUM(n_pt) AS BIGINT) AS n,
                         SUM(n_pt * n_pt / n_p) AS sp,
                         SUM(n_pt * n_pt / n_t) AS sr
                  FROM npt JOIN np USING (p) JOIN nt USING (t))
            SELECT n, ROUND(sp / n, 6) AS bcubed_precision,
                   ROUND(sr / n, 6) AS bcubed_recall,
                   ROUND(2.0 * (sp / n) * (sr / n)
                         / ((sp / n) + (sr / n)), 6) AS bcubed_f1
            FROM s
        """,
        "dedup_collapse_docs": """
            WITH both_docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL SELECT doc_id + 100000, text FROM documents),
            w AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws
                  FROM both_docs),
            ix AS (SELECT doc_id, ws,
                          unnest(range(greatest(len(ws) - 2, 1))) AS i FROM w),
            g AS (SELECT DISTINCT doc_id,
                         array_to_string(ws[i + 1 : i + 3], ' ') AS gram
                  FROM ix),
            sig AS (SELECT doc_id,
                           min(md5('0|' || gram)) || '|' ||
                           min(md5('1|' || gram)) || '|' ||
                           min(md5('2|' || gram)) || '|' ||
                           min(md5('3|' || gram)) AS band
                    FROM g GROUP BY doc_id)
            -- the LSH pair graph links EVERY same-band pair, so components
            -- are exactly the band groups (each group is a clique); the CC
            -- fixpoint is therefore min(doc_id) within band
            SELECT doc_id AS id,
                   min(doc_id) OVER (PARTITION BY band) AS canonical_id,
                   count(*) OVER (PARTITION BY band) AS cluster_size,
                   doc_id = min(doc_id) OVER (PARTITION BY band) AS is_kept
            FROM sig
            ORDER BY id
        """,
        "dense_node_ids": _GRAPH_CTE
        + """
            , nodes AS (SELECT DISTINCT src AS node FROM adj)
            SELECT node AS part,
                   CAST(row_number() OVER (ORDER BY node) - 1 AS BIGINT)
                       AS idx
            FROM nodes
        """,
        "burst_events": """
            WITH counts AS (
                SELECT event_type,
                       date_trunc('hour', ts) AS bucket_start,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2),
            s AS (SELECT event_type, bucket_start, n,
                         COUNT(n) OVER w AS k,
                         AVG(n) OVER w AS mean,
                         STDDEV_SAMP(n) OVER w AS sd
                  FROM counts
                  WINDOW w AS (PARTITION BY event_type
                               ORDER BY bucket_start
                               ROWS BETWEEN 24 PRECEDING
                                        AND 1 PRECEDING))
            SELECT event_type, bucket_start, n,
                   CASE WHEN k >= 2 THEN ROUND(mean, 6) END
                       AS trail_mean,
                   CASE WHEN k >= 2 AND sd > 0
                        THEN ROUND((n - mean) / sd, 6) + 0.0 END AS z
            FROM s
        """,
        "event_transitions_events": """
            WITH seq AS (
                SELECT event_type AS from_type,
                       lead(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS to_type
                FROM events),
            counts AS (
                SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
                FROM seq WHERE to_type IS NOT NULL
                GROUP BY from_type, to_type),
            tot AS (SELECT from_type, CAST(SUM(n) AS DOUBLE) AS tot
                    FROM counts GROUP BY from_type)
            SELECT c.from_type, c.to_type, c.n,
                   ROUND(c.n / t.tot, 6) AS prob
            FROM counts c JOIN tot t USING (from_type)
        """,
        "graph_stats_parts": _REPEAT_GRAPH_CTE
        + """
            , deg AS (SELECT src AS n, CAST(COUNT(*) AS DOUBLE) AS deg
                      FROM adj GROUP BY src)
            , ends AS (SELECT da.deg AS ja, db.deg AS jb
                       FROM und u
                       JOIN deg da ON da.n = u.src
                       JOIN deg db ON db.n = u.dst)
            , mom AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m,
                             SUM(ja * jb) AS s_jk,
                             SUM((ja + jb) / 2.0) AS s_half,
                             SUM((ja * ja + jb * jb) / 2.0) AS s_sq
                      FROM ends)
            , ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                            CAST(MAX(deg) AS BIGINT) AS max_degree
                     FROM deg)
            SELECT ns.n_nodes, CAST(mom.m AS BIGINT) AS n_edges,
                   ROUND(mom.m / (ns.n_nodes * (ns.n_nodes - 1) / 2.0),
                         6) AS density,
                   ROUND(2.0 * mom.m / ns.n_nodes, 6) AS avg_degree,
                   ns.max_degree,
                   ROUND((mom.s_jk / mom.m
                          - POWER(mom.s_half / mom.m, 2))
                         / (mom.s_sq / mom.m
                            - POWER(mom.s_half / mom.m, 2)),
                         6) + 0.0 AS assortativity
            FROM mom, ns
        """,
        "degree_histogram_parts": _GRAPH_CTE
        + """
            , deg AS (SELECT src AS node, COUNT(*) AS degree
                      FROM adj GROUP BY src)
            SELECT degree, COUNT(*) AS n_nodes
            FROM deg GROUP BY degree
        """,
        "bloom_probe_customers": """
            WITH dj AS (SELECT unnest(range(3)) AS j),
            mem AS (SELECT DISTINCT o_custkey AS k FROM orders),
            bits AS (SELECT DISTINCT
                            ('0x' || substr(md5('bloom'
                                || CAST(j AS VARCHAR) || '|'
                                || CAST(k AS VARCHAR)), 1, 8)
                            )::BIGINT % 4096 AS bit
                     FROM mem CROSS JOIN dj),
            probes AS (SELECT c_custkey, j,
                              ('0x' || substr(md5('bloom'
                                  || CAST(j AS VARCHAR) || '|'
                                  || CAST(c_custkey AS VARCHAR)), 1, 8)
                              )::BIGINT % 4096 AS bit
                       FROM customer CROSS JOIN dj),
            hits AS (SELECT c_custkey, COUNT(*) AS h
                     FROM probes p
                     WHERE EXISTS (SELECT 1 FROM bits b
                                   WHERE b.bit = p.bit)
                     GROUP BY c_custkey)
            SELECT c.c_custkey,
                   COALESCE(h.h, 0) = 3 AS maybe_member,
                   EXISTS (SELECT 1 FROM mem m
                           WHERE m.k = c.c_custkey) AS is_member
            FROM customer c LEFT JOIN hits h USING (c_custkey)
        """,
        "cms_join_size_est": """
            WITH dj AS (SELECT unnest(range(4)) AS j),
            sa AS (SELECT j,
                          ('0x' || substr(md5('cms' || CAST(j AS VARCHAR)
                              || '|' || CAST(o_custkey AS VARCHAR)), 1, 8)
                          )::BIGINT % 512 AS bucket,
                          CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM orders CROSS JOIN dj GROUP BY 1, 2),
            sb AS (SELECT j,
                          ('0x' || substr(md5('cms' || CAST(j AS VARCHAR)
                              || '|' || CAST(c_custkey AS VARCHAR)), 1, 8)
                          )::BIGINT % 512 AS bucket,
                          CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM customer CROSS JOIN dj GROUP BY 1, 2),
            dots AS (SELECT sa.j, SUM(sa.cnt * sb.cnt) AS dot
                     FROM sa JOIN sb ON sb.j = sa.j
                                    AND sb.bucket = sa.bucket
                     GROUP BY sa.j)
            SELECT (SELECT CAST(MIN(dot) AS BIGINT) FROM dots)
                       AS est_join_size,
                   (SELECT CAST(COUNT(*) AS BIGINT)
                    FROM orders o JOIN customer c
                      ON c.c_custkey = o.o_custkey) AS true_join_size
        """,
        "hll_orders": """
            WITH h AS (SELECT md5('hll|' || CAST(o_custkey AS VARCHAR))
                              AS hx FROM orders),
            r AS (SELECT ('0x' || substr(hx, 1, 8))::BIGINT % 512
                             AS bucket,
                         ('0x' || substr(hx, 9, 8))::BIGINT AS h2
                  FROM h),
            regs AS (SELECT bucket,
                            MAX(CASE WHEN h2 = 0 THEN 33
                                ELSE 32 - CAST(floor(log2(h2)) AS BIGINT)
                                END) AS max_rank
                     FROM r GROUP BY bucket),
            s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_registers,
                         SUM(power(2.0, -max_rank)) AS s
                  FROM regs),
            est AS (SELECT n_registers,
                           (0.7213 / (1.0 + 1.079 / 512)) * 512 * 512
                               / (s + (512 - n_registers)) AS raw,
                           512 - n_registers AS v
                    FROM s)
            SELECT n_registers,
                   ROUND(CASE WHEN raw <= 2.5 * 512 AND v > 0
                              THEN 512.0 * ln(512.0 / v)
                              ELSE raw END, 6) AS est_distinct,
                   (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
                    FROM orders) AS true_distinct
            FROM est
        """,
        "cms_lineitem": """
            WITH dj AS (SELECT unnest(range(4)) AS j),
            buckets AS (
                SELECT j,
                       ('0x' || substr(md5('cms' || CAST(j AS VARCHAR)
                            || '|' || CAST(l_partkey AS VARCHAR)), 1, 8)
                       )::BIGINT % 512 AS bucket,
                       CAST(COUNT(*) AS BIGINT) AS cnt
                FROM lineitem CROSS JOIN dj
                GROUP BY 1, 2),
            keys AS (SELECT p_partkey AS k FROM part
                     WHERE p_partkey <= 49),
            est AS (
                SELECT ky.k,
                       MIN(COALESCE(b.cnt, 0)) AS est_cnt
                FROM keys ky CROSS JOIN dj
                LEFT JOIN buckets b
                  ON b.j = dj.j
                 AND b.bucket = ('0x' || substr(md5('cms'
                        || CAST(dj.j AS VARCHAR) || '|'
                        || CAST(ky.k AS VARCHAR)), 1, 8))::BIGINT % 512
                GROUP BY ky.k),
            true_c AS (SELECT l_partkey AS k,
                              CAST(COUNT(*) AS BIGINT) AS true_cnt
                       FROM lineitem GROUP BY l_partkey)
            SELECT e.k AS part, COALESCE(t.true_cnt, 0) AS true_cnt,
                   CAST(e.est_cnt AS BIGINT) AS est_cnt
            FROM est e LEFT JOIN true_c t ON t.k = e.k
        """,
        "skyline_orders": """
            WITH per_x AS (
                SELECT o_orderdate AS x, MIN(o_totalprice) AS y
                FROM orders GROUP BY o_orderdate),
            r AS (SELECT x, y,
                         MIN(y) OVER (ORDER BY x
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND 1 PRECEDING) AS m
                  FROM per_x)
            SELECT x AS o_orderdate, y AS o_totalprice
            FROM r WHERE m IS NULL OR y < m
        """,
        "cube_orders": """
            SELECT o_orderstatus, o_orderpriority,
                   CAST(GROUPING(o_orderstatus, o_orderpriority)
                        AS BIGINT) AS gid,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(SUM(o_totalprice), 2) AS total
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "quantiles_orders": """
            WITH counts AS (
                SELECT o_orderpriority, o_totalprice AS value,
                       CAST(COUNT(*) AS BIGINT) AS cnt
                FROM orders GROUP BY o_orderpriority, o_totalprice),
            ranked AS (
                SELECT o_orderpriority, value,
                       SUM(cnt) OVER (PARTITION BY o_orderpriority
                                      ORDER BY value) AS cum,
                       SUM(cnt) OVER (PARTITION BY o_orderpriority
                                      ORDER BY value) - cnt AS cum_prev,
                       CAST(SUM(cnt) OVER (PARTITION BY o_orderpriority)
                            AS BIGINT) AS n
                FROM counts),
            qs AS (SELECT unnest([0.25, 0.5, 0.9, 0.99]) AS q)
            SELECT r.o_orderpriority, CAST(q.q AS DOUBLE) AS q,
                   ROUND(r.value, 2) AS value, r.n
            FROM ranked r CROSS JOIN qs q
            WHERE r.cum >= greatest(1, CAST(ceil(q.q * r.n) AS BIGINT))
              AND r.cum_prev < greatest(1, CAST(ceil(q.q * r.n) AS BIGINT))
        """,
        "profile_documents": """
            SELECT 'doc_id' AS col_name,
                   COUNT(*) - COUNT(doc_id) AS n_nulls,
                   COUNT(DISTINCT doc_id) AS n_distinct,
                   CAST(MIN(doc_id) AS VARCHAR) AS min_val,
                   CAST(MAX(doc_id) AS VARCHAR) AS max_val
            FROM documents
            UNION ALL
            SELECT 'lang', COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
                   CAST(MIN(lang) AS VARCHAR), CAST(MAX(lang) AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'source', COUNT(*) - COUNT(source),
                   COUNT(DISTINCT source),
                   CAST(MIN(source) AS VARCHAR),
                   CAST(MAX(source) AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'n_chars', COUNT(*) - COUNT(n_chars),
                   COUNT(DISTINCT n_chars),
                   CAST(MIN(n_chars) AS VARCHAR),
                   CAST(MAX(n_chars) AS VARCHAR)
            FROM documents
        """,
        "ppr_parts": _ppr_sql(3),
        "pagerank_weighted_pmi": _wpr_sql(3),
        "host_graph_docs": r"""
            WITH h AS (
                SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
                           AS src_host,
                       '<p><a href="http://h'
                       || CAST(doc_id % 7 AS VARCHAR)
                       || '.Example.com/a">x</a> <a href="HTTPS://h'
                       || CAST((doc_id + 3) % 7 AS VARCHAR)
                       || '.example.com:8443/b?q=1">y</a>'
                       || ' <a href="/doc/relative">z</a></p>' AS html
                FROM documents),
            links AS (
                SELECT src_host,
                       unnest(regexp_extract_all(html,
                           '(?i)<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)', 1))
                           AS href
                FROM h),
            hosts AS (
                SELECT src_host,
                       lower(regexp_extract(href,
                           '^(?:[A-Za-z][A-Za-z0-9+.\-]*:)?//([^/?#]+)', 1))
                           AS dst_host
                FROM links)
            SELECT src_host, dst_host, COUNT(*) AS n_links
            FROM hosts WHERE dst_host <> ''
            GROUP BY src_host, dst_host
        """,
        "link_graph_docs": r"""
            WITH h AS (
                SELECT doc_id,
                       '<p>See <a href="/doc/'
                       || CAST(doc_id % 100 AS VARCHAR)
                       || '">ref one</a> and <A HREF="/doc/'
                       || CAST((doc_id + 7) % 100 AS VARCHAR)
                       || '">ref two</a></p>' || text AS html
                FROM documents)
            SELECT doc_id,
                   unnest(regexp_extract_all(html,
                       '(?i)<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)', 1))
                       AS href,
                   unnest(regexp_extract_all(html,
                       '(?i)<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)', 2))
                       AS anchor
            FROM h
            ORDER BY doc_id, href
        """,
        "bigram_lm_docs": """
            WITH base AS (
                SELECT doc_id,
                       list_filter(
                           string_split_regex(lower(text), '[^a-z]+'),
                           x -> len(x) >= 1) AS ws
                FROM documents),
            toks AS (SELECT doc_id, t.term
                     FROM base, unnest(ws) AS t(term)),
            ix AS (SELECT doc_id, ws,
                          unnest(range(greatest(len(ws) - 1, 0))) AS i
                   FROM base),
            bp AS (SELECT doc_id, ws[i + 1] AS w1, ws[i + 2] AS w2
                   FROM ix),
            c12 AS (SELECT w1, w2, COUNT(*) AS c12
                    FROM bp GROUP BY w1, w2),
            c1 AS (SELECT term AS w1, COUNT(*) AS c1
                   FROM toks GROUP BY term),
            v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS V FROM c1),
            model AS (SELECT c12.w1, c12.w2,
                             ln((CAST(c12.c12 AS DOUBLE) + 1.0)
                                / (CAST(c1.c1 AS DOUBLE)
                                   + (SELECT V FROM v))) AS logp
                      FROM c12 JOIN c1 ON c1.w1 = c12.w1)
            SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   round(avg(m.logp), 6) AS avg_logp
            FROM bp b JOIN model m ON m.w1 = b.w1 AND m.w2 = b.w2
            GROUP BY b.doc_id
        """,
        "hot_keys_lineitem": """
            WITH counts AS (
                SELECT l_partkey AS key,
                       CAST(COUNT(*) AS BIGINT) AS cnt
                FROM lineitem GROUP BY l_partkey),
            tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM counts),
            top AS (SELECT key, cnt FROM counts
                    ORDER BY cnt DESC, key ASC LIMIT 20)
            SELECT key, cnt,
                   round(cnt / (SELECT total FROM tot), 6) AS share,
                   CAST(row_number() OVER (ORDER BY cnt DESC, key ASC)
                        AS BIGINT) AS rank
            FROM top
        """,
        "lm_quality_docs": """
            WITH toks AS (
                SELECT doc_id AS id, t.term
                FROM documents,
                     unnest(string_split_regex(lower(text), '[^a-z]+'))
                         AS t(term)
                WHERE len(t.term) >= 1),
            counts AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
            tot AS (SELECT CAST(SUM(c) + COUNT(*) AS DOUBLE) AS denom
                    FROM counts),
            lm AS (SELECT term,
                          ln((CAST(c AS DOUBLE) + 1.0)
                             / (SELECT denom FROM tot)) AS logp
                   FROM counts)
            SELECT t.id AS doc_id, COUNT(*) AS n_tokens,
                   round(avg(l.logp), 6) AS avg_logp
            FROM toks t JOIN lm l USING (term)
            GROUP BY t.id
        """,
        "embedding_gram": """
            SELECT i, j,
                   round(SUM(CAST(embedding[i+1] AS DOUBLE)
                             * CAST(embedding[j+1] AS DOUBLE)), 6)
                     AS value
            FROM embeddings,
                 unnest(range(0, 64)) t1(i),
                 unnest(range(0, 64)) t2(j)
            GROUP BY i, j
        """,
        "quantized_embeddings": """
            SELECT vec_id,
                   CAST(list_max(list_transform(embedding, x -> abs(x)))
                        AS DOUBLE) / 127.0 AS scale,
                   CAST(t.pos AS INT) AS pos,
                   CAST(round(
                       CAST(embedding[CAST(t.pos AS INT) + 1] AS DOUBLE)
                       / (CAST(list_max(list_transform(embedding,
                                                       x -> abs(x)))
                               AS DOUBLE) / 127.0)) AS INT) AS q
            FROM embeddings,
                 unnest(range(len(embedding))) AS t(pos)
        """,
        "boilerplate_ngrams_docs": """
            WITH words AS (
                SELECT doc_id,
                       list_filter(
                         string_split_regex(
                           lower(regexp_replace(text, '[^\\w\\s]', ' ', 'g')),
                           '\\s+'),
                         w -> length(w) > 0) AS ws
                FROM documents),
            dgrams AS (
                SELECT DISTINCT doc_id,
                       array_to_string(ws[i : i + 4], ' ') AS gram
                FROM words,
                     unnest(range(1, greatest(len(ws) - 4, 0) + 1)) AS t(i))
            SELECT gram, COUNT(*) AS df
            FROM dgrams GROUP BY gram HAVING COUNT(*) >= 3
        """,
        "random_walks_parts": """
            WITH pairs AS (
                SELECT DISTINCT
                       least(a.l_partkey, b.l_partkey) AS src,
                       greatest(a.l_partkey, b.l_partkey) AS dst
                FROM lineitem a JOIN lineitem b
                     ON a.l_orderkey = b.l_orderkey
                WHERE a.l_partkey <> b.l_partkey),
            adj0 AS (
                SELECT src, dst FROM pairs
                UNION ALL SELECT dst, src FROM pairs),
            adj AS (
                SELECT src, dst FROM (
                    SELECT src, dst,
                           row_number() OVER (
                               PARTITION BY src
                               ORDER BY md5('walk:' || CAST(src AS VARCHAR)
                                            || ':' || CAST(dst AS VARCHAR)),
                                        dst) AS rn
                    FROM adj0)
                WHERE rn <= 8),
            f0 AS (
                SELECT CAST(node AS VARCHAR) || '#' || CAST(i AS VARCHAR)
                           AS walk_id,
                       node AS start, node AS cur,
                       CAST(node AS VARCHAR) AS path
                FROM (SELECT DISTINCT src AS node FROM adj),
                     unnest(range(2)) AS t(i)),
            s1 AS (
                SELECT f.walk_id, f.start, f.path, a.dst AS nxt,
                       md5('walk:' || f.walk_id || ':1:'
                           || CAST(a.dst AS VARCHAR)) AS sc
                FROM f0 f JOIN adj a ON a.src = f.cur),
            f1 AS (
                SELECT walk_id, start,
                       arg_min(nxt, sc) AS cur,
                       path || '->' || CAST(arg_min(nxt, sc) AS VARCHAR)
                           AS path
                FROM s1 GROUP BY walk_id, start, path),
            s2 AS (
                SELECT f.walk_id, f.start, f.path, a.dst AS nxt,
                       md5('walk:' || f.walk_id || ':2:'
                           || CAST(a.dst AS VARCHAR)) AS sc
                FROM f1 f JOIN adj a ON a.src = f.cur),
            f2 AS (
                SELECT walk_id, start,
                       arg_min(nxt, sc) AS cur,
                       path || '->' || CAST(arg_min(nxt, sc) AS VARCHAR)
                           AS path
                FROM s2 GROUP BY walk_id, start, path),
            s3 AS (
                SELECT f.walk_id, f.start, f.path, a.dst AS nxt,
                       md5('walk:' || f.walk_id || ':3:'
                           || CAST(a.dst AS VARCHAR)) AS sc
                FROM f2 f JOIN adj a ON a.src = f.cur),
            f3 AS (
                SELECT walk_id, start,
                       path || '->' || CAST(arg_min(nxt, sc) AS VARCHAR)
                           AS path
                FROM s3 GROUP BY walk_id, start, path)
            SELECT walk_id, start, path FROM f3
        """,
        "kg_negative_samples": """
            WITH t AS (
                SELECT printf('doc-%09d', doc_id) AS subj, 'lang' AS pred,
                       lang AS obj FROM documents
                UNION ALL
                SELECT printf('doc-%09d', doc_id), 'source', source
                FROM documents
                UNION ALL
                SELECT printf('doc-%09d', doc_id), 'n_chars',
                       CAST(n_chars AS VARCHAR) FROM documents),
            pool AS (
                SELECT __ent,
                       row_number() OVER (ORDER BY __ent) - 1 AS idx
                FROM (SELECT DISTINCT obj AS __ent FROM t)),
            nn AS (SELECT COUNT(*) AS n FROM pool),
            cand AS (
                SELECT subj, pred, obj, CAST(i AS INT) AS neg_ix,
                       ('0x' || substr(md5('neg|' || subj || '|' || pred
                                           || '|' || obj || '|'
                                           || CAST(i AS VARCHAR)), 1, 8)
                       )::BIGINT % nn.n AS idx
                FROM t, unnest(range(2)) AS u(i), nn),
            j AS (
                SELECT c.subj, c.pred, c.neg_ix, p.__ent AS obj_neg
                FROM cand c JOIN pool p USING (idx))
            SELECT subj, pred, neg_ix, obj_neg
            FROM j
            WHERE NOT EXISTS (
                SELECT 1 FROM t
                WHERE t.subj = j.subj AND t.pred = j.pred
                      AND t.obj = j.obj_neg)
        """,
        "line_dedup_docs": """
            WITH split AS (
                SELECT doc_id, string_split(text, chr(10)) AS l
                FROM documents),
            exploded AS (
                SELECT doc_id,
                       CAST(i AS INT) - 1 AS pos,
                       l[CAST(i AS INT)] AS line
                FROM split, unnest(range(1, len(l) + 1)) AS t(i)),
            flagged AS (
                SELECT doc_id, pos, line,
                       CASE WHEN trim(line) <> '' THEN
                            row_number() OVER (
                                PARTITION BY line ORDER BY doc_id, pos) = 1
                       ELSE TRUE END AS keep
                FROM exploded)
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN keep THEN line END,
                                       chr(10) ORDER BY pos), '')
                       AS text_clean,
                   CAST(sum(CASE WHEN keep AND trim(line) <> ''
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept,
                   CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_lines_dropped
            FROM flagged GROUP BY doc_id
        """,
        "hyperanf_parts": _hyperanf_sql(2, 5),
        "effective_diameter_parts": _hyperanf_sql(2, 5, tail="effdiam"),
        "weighted_jaccard_docs": """
            WITH both_docs AS (
                SELECT lpad(CAST(doc_id AS VARCHAR), 9, '0') AS id, text
                FROM documents
                UNION ALL
                SELECT lpad(CAST(doc_id + 100000 AS VARCHAR), 9, '0'),
                       text
                FROM documents),
            w AS (SELECT id, string_split_regex(lower(text), '\\s+') AS ws
                  FROM both_docs),
            ix AS (SELECT id, ws,
                          unnest(range(greatest(len(ws) - 3, 0) + 1)) AS i
                   FROM w),
            g AS (SELECT DISTINCT id,
                         array_to_string(ws[i + 1 : i + 3], ' ') AS gram
                  FROM ix),
            cool AS (SELECT gram FROM g
                     GROUP BY gram HAVING count(*) <= 64),
            cg AS (SELECT id, gram FROM g JOIN cool USING (gram)),
            nn AS (SELECT CAST(COUNT(DISTINCT id) AS DOUBLE) AS N
                   FROM both_docs),
            idf AS (SELECT gram, ln(nn.N / count(*)) AS idf
                    FROM cg CROSS JOIN nn GROUP BY gram, nn.N),
            cgw AS (SELECT id, cg.gram, idf.idf
                    FROM cg JOIN idf USING (gram)),
            sizes AS (SELECT id, SUM(idf) AS w FROM cgw GROUP BY id),
            inter AS (SELECT l.id AS a, r.id AS b, SUM(l.idf) AS iw
                      FROM cgw l JOIN cgw r
                        ON l.gram = r.gram AND l.id < r.id
                      GROUP BY l.id, r.id)
            SELECT a, b,
                   round(iw / (wa.w + wb.w - iw), 6) AS wjaccard
            FROM inter
            JOIN sizes wa ON inter.a = wa.id
            JOIN sizes wb ON inter.b = wb.id
            WHERE round(iw / (wa.w + wb.w - iw), 6) >= 0.5
        """,
        "source_percentile_docs": """
            SELECT doc_id, source, n_chars,
                   round(percent_rank() OVER (
                       PARTITION BY source ORDER BY n_chars), 6)
                       AS pct_rank
            FROM documents
        """,
        "powerlaw_fit_parts": _GRAPH_CTE
        + """
            , deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS d
                      FROM adj GROUP BY src)
            , top AS (SELECT d FROM deg ORDER BY d DESC LIMIT 101)
            , r AS (SELECT d, row_number() OVER (ORDER BY d DESC)
                              AS rn
                    FROM top)
            , dm AS (SELECT d AS dmin FROM r WHERE rn = 101)
            , t AS (SELECT d FROM r WHERE rn <= 100)
            SELECT CAST(COUNT(*) AS BIGINT) AS k_tail,
                   MIN(dmin) AS d_min,
                   round(1.0 + COUNT(*) / SUM(ln(d / dmin)), 6)
                       AS alpha
            FROM t CROSS JOIN dm
        """,
        "referential_sample_customers": """
            WITH sc AS (
                SELECT c_custkey FROM customer
                WHERE ('0x' || substr(md5('refsample|'
                          || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
                      % 1000000 < 100000),
            so AS (
                SELECT * FROM orders
                WHERE ('0x' || substr(md5('refsample|'
                          || CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT
                      % 1000000 < 100000),
            agg AS (
                SELECT o_custkey AS c_custkey,
                       CAST(COUNT(*) AS BIGINT) AS n_orders,
                       round(SUM(o_totalprice), 2) AS total_spend
                FROM so GROUP BY 1)
            SELECT s.c_custkey,
                   COALESCE(a.n_orders, 0) AS n_orders,
                   COALESCE(a.total_spend, 0.0) AS total_spend
            FROM sc s LEFT JOIN agg a ON a.c_custkey = s.c_custkey
        """,
        "decayed_activity_users": """
            WITH t AS (SELECT CAST(MAX(floor(epoch(ts))) AS DOUBLE)
                                  AS T
                       FROM events)
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   round(SUM(value * power(2.0,
                       -(t.T - CAST(floor(epoch(ts)) AS DOUBLE))
                           / 604800.0)), 6) AS decayed_score
            FROM events CROSS JOIN t
            GROUP BY user_id, t.T
        """,
        "katz_scores_parts": _REPEAT_GRAPH_CTE
        + f"""
            , w1 AS (SELECT src, dst, CAST(1 AS BIGINT) AS n FROM adj)
            , w2 AS (SELECT a.src, b.dst,
                            CAST(COUNT(*) AS BIGINT) AS n
                     FROM adj a JOIN adj b ON a.dst = b.src
                     GROUP BY a.src, b.dst)
            , w3 AS (SELECT w.src, b.dst,
                            CAST(SUM(w.n) AS BIGINT) AS n
                     FROM w2 w JOIN adj b ON w.dst = b.src
                     GROUP BY w.src, b.dst)
            , terms AS (
                SELECT src, dst,
                       CAST({0.05 ** 1!r} AS DOUBLE) * n AS t FROM w1
                UNION ALL
                SELECT src, dst,
                       CAST({0.05 ** 2!r} AS DOUBLE) * n FROM w2
                UNION ALL
                SELECT src, dst,
                       CAST({0.05 ** 3!r} AS DOUBLE) * n FROM w3)
            SELECT src, dst, round(SUM(t), 9) AS katz
            FROM terms GROUP BY src, dst
        """,
        "rrf_fuse_customers": """
            WITH spend AS (
                SELECT o_custkey AS record_id,
                       round(SUM(o_totalprice), 2) AS score
                FROM orders GROUP BY 1),
            cnt AS (
                SELECT o_custkey AS record_id,
                       CAST(COUNT(*) AS DOUBLE) AS score
                FROM orders GROUP BY 1),
            r1 AS (SELECT record_id,
                          row_number() OVER (
                              ORDER BY score DESC, record_id ASC)
                              AS rnk
                   FROM spend),
            r2 AS (SELECT record_id,
                          row_number() OVER (
                              ORDER BY score DESC, record_id ASC)
                              AS rnk
                   FROM cnt),
            c AS (SELECT record_id, 1.0 / (60.0 + rnk) AS contrib
                  FROM r1 WHERE rnk <= 1000
                  UNION ALL
                  SELECT record_id, 1.0 / (60.0 + rnk)
                  FROM r2 WHERE rnk <= 1000)
            SELECT record_id, round(SUM(contrib), 6) AS rrf_score,
                   CAST(COUNT(*) AS INT) AS n_lists
            FROM c GROUP BY record_id
            ORDER BY rrf_score DESC, record_id ASC
            LIMIT 20
        """,
        "hashed_tf_docs": """
            WITH w AS (
                SELECT doc_id, w FROM (
                    SELECT doc_id,
                           unnest(regexp_split_to_array(lower(text),
                                                        '[^a-z0-9]+'))
                               AS w
                    FROM documents)
                WHERE w <> ''),
            v AS (
                SELECT doc_id,
                       ('0x' || substr(md5('fh|' || w), 1, 8))::BIGINT
                           % 64 AS pos,
                       SUM(CASE WHEN ('0x' || substr(md5('fh|' || w),
                                                     9, 8))::BIGINT % 2
                                     = 0
                                THEN 1.0 ELSE -1.0 END) AS val
                FROM w GROUP BY 1, 2
                HAVING SUM(CASE WHEN ('0x' || substr(md5('fh|' || w),
                                                     9, 8))::BIGINT % 2
                                     = 0
                                THEN 1.0 ELSE -1.0 END) <> 0.0),
            n AS (SELECT doc_id, sqrt(SUM(val * val)) AS nn
                  FROM v GROUP BY doc_id)
            SELECT v.doc_id, v.pos, round(v.val / n.nn, 6) AS val
            FROM v JOIN n ON n.doc_id = v.doc_id
        """,
        "winnow_docs": """
            WITH c AS (
                SELECT doc_id,
                       regexp_replace(lower(text), '[^a-z0-9]', '', 'g')
                           AS cc
                FROM documents WHERE doc_id < 200),
            g AS (
                SELECT doc_id, CAST(i AS INT) - 1 AS pos,
                       substr(cc, CAST(i AS INT), 8) AS gram
                FROM c, unnest(range(1, length(cc) - 8 + 2)) AS t(i)
                WHERE length(cc) >= 8),
            keyed AS (
                SELECT doc_id, pos,
                       ('0x' || substr(md5(gram), 1, 8))::BIGINT
                           * 2097152 + (2097151 - pos) AS key
                FROM g),
            sel AS (
                SELECT DISTINCT doc_id,
                       MIN(key) OVER (
                           PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
                           AS s
                FROM keyed)
            SELECT doc_id,
                   CAST(2097151 - (s % 2097152) AS INT) AS pos,
                   CAST(floor(s / 2097152) AS BIGINT) AS gram_hash
            FROM sel
        """,
        "node2vec_walks_parts": _node2vec_sql(3),
        "mad_outliers_orders": """
            WITH counts AS (
                SELECT o_orderpriority AS g, o_totalprice AS value,
                       CAST(COUNT(*) AS BIGINT) AS cnt
                FROM orders GROUP BY 1, 2),
            ranked AS (
                SELECT g, value,
                       SUM(cnt) OVER (PARTITION BY g ORDER BY value)
                           AS cum,
                       SUM(cnt) OVER (PARTITION BY g ORDER BY value)
                           - cnt AS cum_prev,
                       CAST(SUM(cnt) OVER (PARTITION BY g) AS BIGINT)
                           AS n
                FROM counts),
            med AS (
                SELECT g, value AS median, n FROM ranked
                WHERE cum >= greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
                  AND cum_prev < greatest(1, CAST(ceil(0.5 * n)
                                                  AS BIGINT))),
            dev AS (
                SELECT o.o_orderpriority AS g, m.median, m.n,
                       abs(o.o_totalprice - m.median) AS absdev
                FROM orders o JOIN med m ON m.g = o.o_orderpriority),
            dcounts AS (
                SELECT g, absdev AS value,
                       CAST(COUNT(*) AS BIGINT) AS cnt
                FROM dev GROUP BY 1, 2),
            dranked AS (
                SELECT g, value,
                       SUM(cnt) OVER (PARTITION BY g ORDER BY value)
                           AS cum,
                       SUM(cnt) OVER (PARTITION BY g ORDER BY value)
                           - cnt AS cum_prev,
                       CAST(SUM(cnt) OVER (PARTITION BY g) AS BIGINT)
                           AS n
                FROM dcounts),
            mad AS (
                SELECT g, value AS mad FROM dranked
                WHERE cum >= greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
                  AND cum_prev < greatest(1, CAST(ceil(0.5 * n)
                                                  AS BIGINT))),
            flagged AS (
                SELECT d.g,
                       CAST(SUM(CASE WHEN d.absdev > 3.0 * a.mad
                                     THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_outliers
                FROM dev d JOIN mad a ON a.g = d.g
                GROUP BY d.g)
            SELECT m.g AS o_orderpriority,
                   ROUND(m.median, 2) AS median,
                   ROUND(a.mad, 2) AS mad,
                   m.n,
                   COALESCE(f.n_outliers, 0) AS n_outliers
            FROM med m
            JOIN mad a ON a.g = m.g
            LEFT JOIN flagged f ON f.g = m.g
        """,
        "hll_group_suppliers": """
            WITH h AS (SELECT l_suppkey,
                              md5('hll|' || CAST(l_partkey AS VARCHAR))
                                  AS hx
                       FROM lineitem),
            r AS (SELECT l_suppkey,
                         ('0x' || substr(hx, 1, 8))::BIGINT % 64
                             AS bucket,
                         ('0x' || substr(hx, 9, 8))::BIGINT AS h2
                  FROM h),
            regs AS (SELECT l_suppkey, bucket,
                            MAX(CASE WHEN h2 = 0 THEN 33
                                ELSE 32 - CAST(floor(log2(h2)) AS BIGINT)
                                END) AS max_rank
                     FROM r GROUP BY l_suppkey, bucket),
            s AS (SELECT l_suppkey,
                         CAST(COUNT(*) AS BIGINT) AS n_registers,
                         SUM(power(2.0, -max_rank)) AS s
                  FROM regs GROUP BY l_suppkey),
            est AS (SELECT l_suppkey, n_registers,
                           (0.7213 / (1.0 + 1.079 / 64)) * 64 * 64
                               / (s + (64 - n_registers)) AS raw,
                           64 - n_registers AS v
                    FROM s),
            tru AS (SELECT l_suppkey,
                           CAST(COUNT(DISTINCT l_partkey) AS BIGINT)
                               AS true_distinct
                    FROM lineitem GROUP BY l_suppkey)
            SELECT e.l_suppkey, e.n_registers,
                   ROUND(CASE WHEN raw <= 2.5 * 64 AND v > 0
                              THEN 64.0 * ln(64.0 / v)
                              ELSE raw END, 6) AS est_distinct,
                   t.true_distinct
            FROM est e JOIN tru t ON t.l_suppkey = e.l_suppkey
        """,
        "fuzzy_name_pairs": """
            WITH k AS (
                SELECT c_custkey AS id, c_name AS t,
                       substr(c_name, 1, 15) AS blk,
                       length(c_name) AS ln
                FROM customer WHERE c_custkey < 500)
            SELECT a.id AS id_a, b.id AS id_b,
                   a.t AS text_a, b.t AS text_b,
                   CAST(levenshtein(a.t, b.t) AS INT) AS dist
            FROM k a JOIN k b
              ON a.blk = b.blk AND a.id < b.id
             AND abs(a.ln - b.ln) <= 1
            WHERE levenshtein(a.t, b.t) <= 1
        """,
        "frequent_triples_orders": """
            WITH items AS (
                SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                FROM lineitem)
            SELECT a.i AS i1, c.i AS i2, d.i AS i3,
                   CAST(COUNT(*) AS BIGINT) AS support
            FROM items a
            JOIN items c ON a.b = c.b AND a.i < c.i
            JOIN items d ON a.b = d.b AND c.i < d.i
            GROUP BY 1, 2, 3
            HAVING COUNT(*) >= 2
        """,
        "gopher_gates_docs": """
            WITH m AS (
                SELECT doc_id,
                       len(regexp_split_to_array(trim(text), '\\s+'))
                           AS n_words,
                       length(regexp_replace(trim(text), '\\s+', '', 'g'))
                           AS swc,
                       len(list_filter(
                           regexp_split_to_array(trim(text), '\\s+'),
                           w -> regexp_matches(w, '[A-Za-z]')))
                           AS n_alpha_words,
                       length(text) - length(replace(text, '#', ''))
                           AS n_hash,
                       (length(text) - length(replace(text, '...', '')))
                           / 3 AS n_ellipsis,
                       len(string_split(text, chr(10))) AS n_lines,
                       len(list_filter(string_split(text, chr(10)),
                           ln -> regexp_matches(trim(ln), '^[-*•]')))
                           AS n_bullet,
                       len(list_filter(string_split(text, chr(10)),
                           ln -> regexp_matches(trim(ln), '\\.\\.\\.$')))
                           AS n_ell_end,
                       list_distinct(regexp_split_to_array(
                           lower(trim(text)), '[^a-z0-9]+')) AS lw
                FROM documents),
            r AS (
                SELECT doc_id, n_words,
                       round(CASE WHEN n_words > 0
                                  THEN swc / n_words ELSE 0.0 END, 4)
                           AS mean_word_len,
                       round(CASE WHEN n_words > 0
                                  THEN n_alpha_words / n_words
                                  ELSE 0.0 END, 4) AS alpha_word_frac,
                       round(CASE WHEN n_words > 0
                                  THEN (n_hash + n_ellipsis) / n_words
                                  ELSE 0.0 END, 4) AS symbol_ratio,
                       round(CASE WHEN n_lines > 0
                                  THEN n_bullet / n_lines
                                  ELSE 0.0 END, 4) AS bullet_line_frac,
                       round(CASE WHEN n_lines > 0
                                  THEN n_ell_end / n_lines
                                  ELSE 0.0 END, 4) AS ellipsis_line_frac,
                       list_contains(lw, 'the')::INT
                       + list_contains(lw, 'and')::INT
                       + list_contains(lw, 'of')::INT
                       + list_contains(lw, 'to')::INT
                       + list_contains(lw, 'is')::INT
                       + list_contains(lw, 'in')::INT
                       + list_contains(lw, 'that')::INT
                       + list_contains(lw, 'it')::INT
                       + list_contains(lw, 'was')::INT
                       + list_contains(lw, 'for')::INT AS stopword_hits
                FROM m)
            SELECT doc_id, n_words, mean_word_len, alpha_word_frac,
                   symbol_ratio, bullet_line_frac, ellipsis_line_frac,
                   stopword_hits,
                   (n_words >= 50 AND n_words <= 100000) AS g_word_count,
                   (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                       AS g_mean_word_len,
                   (alpha_word_frac >= 0.80) AS g_alpha_words,
                   (symbol_ratio <= 0.10) AS g_symbol_ratio,
                   (bullet_line_frac <= 0.90) AS g_bullet_lines,
                   (ellipsis_line_frac <= 0.30) AS g_ellipsis_lines,
                   (stopword_hits >= 1) AS g_stopwords,
                   ((n_words >= 50 AND n_words <= 100000)
                    AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                    AND alpha_word_frac >= 0.80
                    AND symbol_ratio <= 0.10
                    AND bullet_line_frac <= 0.90
                    AND ellipsis_line_frac <= 0.30
                    AND stopword_hits >= 1) AS keep
            FROM r
        """,
        "landmark_dist_parts": _REPEAT_GRAPH_CTE
        + """
            , nds AS (SELECT DISTINCT src AS node FROM adj)
            , lm AS (SELECT node FROM nds
                     ORDER BY md5('lm|' || CAST(node AS VARCHAR))
                     LIMIT 8)
            , v0 AS (SELECT node AS root, node, 0 AS dist FROM lm)
            , v1 AS (SELECT root, node, MIN(dist) AS dist FROM (
                    SELECT root, node, dist FROM v0
                    UNION ALL
                    SELECT r.root, a.dst, r.dist + 1
                    FROM v0 r JOIN adj a ON a.src = r.node)
                GROUP BY root, node)
            , v2 AS (SELECT root, node, MIN(dist) AS dist FROM (
                    SELECT root, node, dist FROM v1
                    UNION ALL
                    SELECT r.root, a.dst, r.dist + 1
                    FROM v1 r JOIN adj a ON a.src = r.node)
                GROUP BY root, node)
            , v3 AS (SELECT root, node, MIN(dist) AS dist FROM (
                    SELECT root, node, dist FROM v2
                    UNION ALL
                    SELECT r.root, a.dst, r.dist + 1
                    FROM v2 r JOIN adj a ON a.src = r.node)
                GROUP BY root, node)
            , qn AS (SELECT node FROM nds WHERE node <= 25)
            , prs AS (SELECT a.node AS u, b.node AS v
                      FROM qn a JOIN qn b ON a.node < b.node)
            , est AS (
                SELECT p.u, p.v, MIN(x.dist + y.dist) AS est_dist
                FROM prs p
                JOIN v3 x ON x.node = p.u
                JOIN v3 y ON y.node = p.v AND y.root = x.root
                GROUP BY p.u, p.v)
            , e0 AS (SELECT node AS root, node, 0 AS dist FROM qn)
            , e1 AS (SELECT root, node, MIN(dist) AS dist FROM (
                    SELECT root, node, dist FROM e0
                    UNION ALL
                    SELECT r.root, a.dst, r.dist + 1
                    FROM e0 r JOIN adj a ON a.src = r.node)
                GROUP BY root, node)
            , e2 AS (SELECT root, node, MIN(dist) AS dist FROM (
                    SELECT root, node, dist FROM e1
                    UNION ALL
                    SELECT r.root, a.dst, r.dist + 1
                    FROM e1 r JOIN adj a ON a.src = r.node)
                GROUP BY root, node)
            , e3 AS (SELECT root, node, MIN(dist) AS dist FROM (
                    SELECT root, node, dist FROM e2
                    UNION ALL
                    SELECT r.root, a.dst, r.dist + 1
                    FROM e2 r JOIN adj a ON a.src = r.node)
                GROUP BY root, node)
            SELECT p.u, p.v, s.est_dist, x.dist AS exact_dist
            FROM prs p
            LEFT JOIN est s ON s.u = p.u AND s.v = p.v
            LEFT JOIN e3 x ON x.root = p.u AND x.node = p.v
        """,
        "dimsum_part_pairs": """
            WITH r AS (
                SELECT o_custkey AS rw, l_partkey AS cl,
                       CAST(l_quantity AS DOUBLE) AS v
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            vals AS (SELECT rw, cl, SUM(v) AS v FROM r GROUP BY rw, cl),
            norms AS (SELECT cl, sqrt(SUM(v * v)) AS nrm
                      FROM vals GROUP BY cl),
            ent AS (SELECT rw, cl, v, nrm FROM vals JOIN norms USING (cl)),
            kept AS (
                SELECT rw, cl, v / least(140.0, nrm) AS w
                FROM ent
                WHERE ('0x' || substr(md5('ds|' || CAST(rw AS VARCHAR)
                          || '|' || CAST(cl AS VARCHAR)), 1, 8))::BIGINT
                      / 4294967296.0
                      < least(1.0, 140.0 / nrm)),
            est AS (
                SELECT a.cl AS src, b.cl AS dst, SUM(a.w * b.w) AS sim_est
                FROM kept a JOIN kept b
                  ON a.rw = b.rw AND a.cl < b.cl
                GROUP BY 1, 2
                HAVING round(SUM(a.w * b.w), 6) >= 0.15),
            ex_kept AS (SELECT rw, cl, v / nrm AS w FROM ent),
            ex AS (
                SELECT a.cl AS src, b.cl AS dst,
                       SUM(a.w * b.w) AS sim_exact
                FROM ex_kept a JOIN ex_kept b
                  ON a.rw = b.rw AND a.cl < b.cl
                GROUP BY 1, 2)
            SELECT e.src, e.dst, round(e.sim_est, 6) AS sim_est,
                   round(x.sim_exact, 6) AS sim_exact
            FROM est e JOIN ex x ON e.src = x.src AND e.dst = x.dst
        """,
        "assoc_rules_orders": _ASSOC_RULES_SQL,
        "assoc_rules_index": _ASSOC_RULES_SQL,
        "ranking_eval_events": """
            WITH labeled AS (
                SELECT user_id, event_id, value,
                       CASE WHEN event_type = 'purchase' THEN 2
                            WHEN event_type = 'click' THEN 1
                            ELSE 0 END AS rel
                FROM events),
            ranked AS (
                SELECT user_id,
                       CAST(rel AS DOUBLE) AS rel,
                       power(2.0, rel) - 1.0 AS gain,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY value DESC, event_id ASC) AS pos,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY rel DESC, event_id ASC) AS ipos
                FROM labeled),
            agg AS (
                SELECT user_id,
                       CAST(COUNT(*) AS BIGINT) AS n_items,
                       SUM(CASE WHEN pos <= 10
                                THEN gain / log2(pos + 1.0)
                                ELSE 0.0 END) AS dcg,
                       SUM(CASE WHEN ipos <= 10
                                THEN gain / log2(ipos + 1.0)
                                ELSE 0.0 END) AS idcg,
                       MIN(CASE WHEN rel > 0 THEN pos END) AS first_rel,
                       SUM(CASE WHEN pos <= 10 AND rel > 0
                                THEN 1 ELSE 0 END) AS hits
                FROM ranked GROUP BY user_id)
            SELECT user_id, n_items,
                   round(CASE WHEN idcg > 0 THEN dcg / idcg
                              ELSE 0.0 END, 6) AS ndcg_at_k,
                   round(CASE WHEN first_rel IS NOT NULL
                              THEN 1.0 / first_rel
                              ELSE 0.0 END, 6) AS mrr,
                   round(hits / 10.0, 6) AS precision_at_k
            FROM agg
        """,
        # kg_triples_sf: intentionally no oracle (pandas-UDF chunker inside;
        # driver records the rows-only check; full fidelity is gated by the
        # pytest P/R harness against the pandas oracle).
    }
