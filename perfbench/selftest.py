#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks, without Spark.

    python3 perfbench/selftest.py        (from the root of the checkout)

Each check is fed a result that matches its reference and must pass, then a
tampered copy of that result and must fail. Also checks that BENCHMARK.json
names exactly the metrics the benchmark prints and that the input
fingerprint follows the seed. Exits non-zero on the first surprise.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.getcwd()]

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from kernel_memory_spark import oracle, synth  # noqa: E402
from kernel_memory_spark.functions.vectors import hash_embed  # noqa: E402

FAILURES = []


def expect(label: str, problems: list, should_fail: bool) -> None:
    if bool(problems) != should_fail:
        FAILURES.append(f"{label}: expected {'failure' if should_fail else 'pass'}, "
                        f"got {problems or 'pass'}")
    print(f"{'ok  ' if bool(problems) == should_fail else 'FAIL'} {label}")


def tamper_ranking(ranked: list) -> list:
    """Swap the first result for a key the reference never returns."""
    return [("no-such-record", ranked[0][1])] + list(ranked[1:])


def main() -> int:
    docs = [synth.gen_doc(i, 7) for i in range(30)]

    # triples P/R against the oracle
    expected = oracle.oracle_triples(docs)
    ordered = sorted(expected)
    expect("triples: exact", checks.check_triples(set(expected), expected, "t"), False)
    expect("triples: 10% dropped",
           checks.check_triples(set(ordered[len(ordered) // 10:]), expected, "t"), True)
    junk = {(f"s{i}", "p", "o", "doc") for i in range(len(ordered) // 10)}
    expect("triples: 10% invented",
           checks.check_triples(expected | junk, expected, "t"), True)

    # re-delivered documents leave one copy of their records
    rows = [(f"{d['doc_id']}/r", d["doc_id"], "b0") for d in docs]
    ids = {d["doc_id"] for d in docs}
    expect("records: unique", checks.check_records(rows, ids), False)
    expect("records: duplicated", checks.check_records(rows + rows[:1], ids), True)
    expect("records: two executions", checks.check_records(
        rows + [(rows[0][0] + "x", rows[0][1], "b1")], ids), True)

    # ranked results against numpy cosine and the pure-Python BM25
    texts = [s["text"] for d in docs for s in d["spans"]]
    rec_ids = [f"r{i:03d}" for i in range(len(texts))]
    import numpy as np

    vectors = np.array([hash_embed(t) for t in texts], dtype=np.float32)
    q = "Alice Johnson works at Helios Dynamics"
    qv = [float(x) for x in hash_embed(q)]
    knn = checks.expected_knn(rec_ids, texts, vectors, qv, 10)
    expect("knn: reference", checks.ranked_match(knn, knn, "knn", k=10), False)
    expect("knn: tampered",
           checks.ranked_match(tamper_ranking(knn), knn, "knn", k=10), True)
    expect("knn: truncated to its top 1",
           checks.ranked_match(knn[:1], knn, "knn", k=10), True)
    ask = checks.expected_ask(rec_ids, texts, vectors, qv, 100)
    expect("ask: budget prefix", checks.ranked_match(ask[:5], ask, "ask"), False)
    expect("ask: reordered", checks.ranked_match(ask[:5][::-1], ask, "ask"), True)
    expect("ask: zero-score tail left out", checks.ranked_match(
        checks.significant(ask[:5] + [("orthogonal fact", 0.0)]), ask, "ask"),
        False)
    expect("ask: invented fact", checks.ranked_match(checks.significant(
        ask[:5] + [("invented fact", ask[4][1])]), ask, "ask"), True)
    bm25 = checks.BM25(dict(zip(rec_ids, texts)))
    hyb = checks.expected_hybrid(bm25, rec_ids, vectors, q, qv)
    expect("hybrid: reference",
           checks.ranked_match(hyb[:10], hyb, "hybrid", k=10), False)
    expect("hybrid: tampered",
           checks.ranked_match(tamper_ranking(hyb[:10]), hyb, "hybrid", k=10), True)
    expect("hybrid: truncated to its top 1",
           checks.ranked_match(hyb[:1], hyb, "hybrid", k=10), True)
    fts = checks.expected_fts(bm25, dict(zip(rec_ids, texts)),
                              "Alice Johnson", "works", "Helios Dynamics")
    expect("fts: fixture has several results", [] if len(fts) > 1 else ["< 2"], False)
    expect("fts: reference", checks.ranked_match(fts[:10], fts, "fts", k=10), False)
    expect("fts: score perturbed", checks.ranked_match(
        [(fts[0][0], fts[0][1] + 1e-3)] + fts[1:10], fts, "fts", k=10), True)
    expect("fts: truncated to its top 1",
           checks.ranked_match(fts[:1], fts, "fts", k=10), True)

    # graph analytics against networkx
    edges = [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f"), ("c", "a")]
    labels = {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f"}
    expect("components: networkx", checks.check_components(labels, edges), False)
    expect("components: relabelled", checks.check_components(
        {**labels, "c": "c"}, edges), True)
    star = [("a", "b"), ("a", "c"), ("a", "d"), ("d", "e")]
    sym = sorted(set(star) | {(v, u) for u, v in star})
    ranks = checks.pagerank_iterations(sym)
    expect("pagerank: replayed definition", checks.check_pagerank(ranks, sym), False)
    lo, hi = min(ranks, key=ranks.get), max(ranks, key=ranks.get)
    expect("pagerank: two ranks swapped", checks.check_pagerank(
        {**ranks, lo: ranks[hi], hi: ranks[lo]}, sym), True)
    t = {"x": "Robert Chen visited the Port Meridian harbour at dawn.",
         "y": "Robert Chen visited the Port Meridian harbour at dawn!",
         "z": "the committee will reconvene after the recess."}
    j = checks.exact_jaccard(t["x"], t["y"])
    expect("near-dup: true pair", checks.check_near_dups([("x", "y", j)], t, 0.8), False)
    expect("near-dup: dissimilar pair", checks.check_near_dups(
        [("x", "z", 0.9)], t, 0.8), True)
    expect("near-dup: planted pair found", checks.check_near_dup_recall(
        [("x", "y", j)], t, [("x", "y")]), False)
    expect("near-dup: planted pair missed", checks.check_near_dup_recall(
        [], t, [("x", "y")]), True)

    # metric names and the input fingerprint
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    expect("BENCHMARK.json end_to_end names", [] if [
        m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END) else ["differ"], False)
    expect("BENCHMARK.json per_layer names", [] if [
        m["name"] for m in spec["per_layer"]] == list(tracing.PER_LAYER) else ["differ"], False)
    with tempfile.TemporaryDirectory() as tmp:
        a = inputs.generate(5, os.path.join(tmp, "a")).fingerprint
        b = inputs.generate(5, os.path.join(tmp, "b")).fingerprint
        c = inputs.generate(6, os.path.join(tmp, "c")).fingerprint
    expect("fingerprint: same seed, same inputs", [] if a == b else ["differ"], False)
    expect("fingerprint: new seed, new inputs", [] if a != c else ["equal"], False)

    print(f"{len(FAILURES)} surprises")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
