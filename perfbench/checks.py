"""Correctness checks, run outside the timed region.

Every check is a pure function over plain Python values (results collected
from Spark plus the generated inputs) and returns a list of problems; an
empty list means the check passed. The references are independent of the
Spark operators: the single-node triple oracle, numpy brute-force cosine, a
pure-Python BM25, and networkx for graph results.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from typing import Dict, Iterable, List, Optional, Sequence, Set, Tuple

import numpy as np

TRIPLE_PR_MIN = 0.95
SCORE_TOL = 2e-6
# A cosine score this close to 0 is a sum of products that cancel: its
# sign, and so whether it passes a "score >= 0" filter and where it ranks,
# depends on the order of the summation. Such results are left out on
# both sides of a KNN or ask comparison.
ZERO_SCORE = 5e-7
# PageRank: the operator runs a fixed number of synchronous power
# iterations from the uniform vector (the benchmark asks for 5, half the
# default, to save run time). The exact reference
# replays them; networkx iterates to convergence, and power iteration
# contracts the L1 error by the damping factor each step, so after k steps
# the operator is within 2 * 0.85**k of networkx's fixed point.
PAGERANK_ITERATIONS = 5
PAGERANK_DAMPING = 0.85
PAGERANK_EXACT_TOL = 1e-9

# a planted near-duplicate pair at least this similar must be found
NEAR_DUP_SURE = 0.9

BM25_K1 = 1.2
BM25_B = 0.75
BM25_DIVISOR = 10.0

Problems = List[str]


# -- triples ---------------------------------------------------------------

def check_triples(predicted: Set[tuple], expected: Set[tuple],
                  label: str) -> Problems:
    """(subj, pred, obj, doc_id) triples at precision and recall >= 0.95
    against the single-node oracle (the gate the tests use)."""
    if not predicted or not expected:
        return [f"{label}: empty triple set"]
    tp = len(predicted & expected)
    p, r = tp / len(predicted), tp / len(expected)
    if p < TRIPLE_PR_MIN or r < TRIPLE_PR_MIN:
        return [f"{label}: triples P={p:.4f} R={r:.4f} < {TRIPLE_PR_MIN}"]
    return []


def check_records(rows: Sequence[Tuple[str, str, str]],
                  expected_docs: Set[str]) -> Problems:
    """rows = (record id, doc_id, execution_id). Re-delivered documents must
    leave exactly one copy of their records, from one execution."""
    out = []
    dup = [i for i, n in Counter(r[0] for r in rows).items() if n > 1]
    if dup:
        out.append(f"records: {len(dup)} duplicated record ids, e.g. {dup[0]}")
    docs = {r[1] for r in rows}
    if docs != expected_docs:
        out.append(
            f"records: {len(docs - expected_docs)} unexpected and "
            f"{len(expected_docs - docs)} missing documents"
        )
    execs: Dict[str, set] = {}
    for _, doc, ex in rows:
        execs.setdefault(doc, set()).add(ex)
    mixed = [d for d, e in execs.items() if len(e) > 1]
    if mixed:
        out.append(f"records: {len(mixed)} documents hold records of "
                   f"several executions, e.g. {mixed[0]}")
    return out


# -- ranked results ----------------------------------------------------------

def ranked_match(returned: Sequence[Tuple[str, float]],
                 expected: Sequence[Tuple[str, float]], label: str,
                 k: Optional[int] = None, tol: float = SCORE_TOL) -> Problems:
    """`returned` must be the head of the `expected` ranking: position by
    position the scores agree within `tol`, and every returned key carries
    its own expected score. Keys whose scores tie exactly may swap. With
    `k`, exactly min(k, len(expected)) results must come back; without it
    any non-empty prefix passes (ask_facts' token budget keeps a prefix)."""
    exp_score = {}
    for key, s in expected:
        exp_score.setdefault(key, s)
    if not returned:
        return [f"{label}: no results"] if expected else []
    want = len(expected) if k is None else min(k, len(expected))
    if len(returned) > want or (k is not None and len(returned) < want):
        return [f"{label}: {len(returned)} results, expected "
                f"{'at most ' if k is None else ''}{want}"]
    for i, ((key, s), (_, e)) in enumerate(zip(returned, expected)):
        if abs(s - e) > tol:
            return [f"{label}: rank {i} score {s:.6f} != expected {e:.6f}"]
        if key not in exp_score or abs(exp_score[key] - s) > tol:
            return [f"{label}: rank {i} key {key!r} is not an expected result "
                    "with that score"]
    return []


def significant(ranked: Sequence[Tuple[str, float]]) -> List[Tuple[str, float]]:
    """The results whose score is not within rounding of 0 (ZERO_SCORE)."""
    return [(key, s) for key, s in ranked if abs(s) >= ZERO_SCORE]


def cosine_scores(vectors: np.ndarray, query: Sequence[float]) -> np.ndarray:
    q = np.asarray(query, dtype=np.float64)
    q = q / (np.linalg.norm(q) or 1.0)
    return vectors.astype(np.float64) @ q


def _by_score(ids: Sequence[str], scores) -> List[int]:
    return sorted(range(len(ids)), key=lambda i: (-scores[i], ids[i]))


def expected_knn(ids, texts, vectors, query, k: int) -> List[Tuple[str, float]]:
    """search_memories: cosine top-k (score >= 0, ties by id), then the
    duplicate-fact skip keeps each partition text once -> (text, score).
    Scores within rounding of 0 are left out (ZERO_SCORE)."""
    s = cosine_scores(vectors, query)
    top = [i for i in _by_score(ids, s) if s[i] >= ZERO_SCORE][:k]
    best: Dict[str, float] = {}
    for i in top:
        best[texts[i]] = max(best.get(texts[i], -math.inf), float(s[i]))
    return sorted(best.items(), key=lambda kv: -kv[1])


def expected_ask(ids, texts, vectors, query, limit: int
                 ) -> List[Tuple[str, float]]:
    """ask_facts grounding set before the token budget: cosine top-`limit`,
    empty partitions skipped, duplicate facts skipped -> (text, relevance)
    in relevance order; the budget then keeps a prefix. Scores within
    rounding of 0 are left out (ZERO_SCORE)."""
    s = cosine_scores(vectors, query)
    top = [i for i in _by_score(ids, s) if s[i] >= ZERO_SCORE][:limit]
    best: Dict[str, float] = {}
    for i in top:
        t = texts[i].strip()
        if t:
            best[t] = max(best.get(t, -math.inf), round(float(s[i]), 6))
    return sorted(best.items(), key=lambda kv: -kv[1])


# -- BM25 (independent, pure Python) -----------------------------------------

_PUNCT = re.compile(r"[^\w\s]", re.ASCII)
_SPACE = re.compile(r"\s+", re.ASCII)


def _tokens(text: str) -> List[str]:
    # punctuation -> space, lowercase, split on whitespace runs; empty
    # tokens count towards the document length, as in the operator
    return _SPACE.split(_PUNCT.sub(" ", text or "").lower())


class BM25:
    """Classic BM25 (k1=1.2, b=0.75, idf = ln((N-df+0.5)/(df+0.5)+1)) with
    whole-corpus statistics."""

    def __init__(self, docs: Dict[str, str]):
        self.n = len(docs)
        self.tf: Dict[str, Counter] = {}
        self.dl: Dict[str, int] = {}
        self.df: Counter = Counter()
        for d, text in docs.items():
            toks = _tokens(text)
            terms = Counter(t for t in toks if t)
            if terms:
                self.tf[d], self.dl[d] = terms, len(toks)
                self.df.update(terms.keys())
        self.avgdl = (sum(self.dl.values()) / len(self.dl)) if self.dl else 1.0

    def scores(self, terms: Iterable[str], candidates=None) -> Dict[str, float]:
        terms = set(terms)
        out = {}
        for d, tf in self.tf.items():
            if candidates is not None and d not in candidates:
                continue
            hit = terms & tf.keys()
            if not hit:
                continue
            norm = BM25_K1 * (1 - BM25_B + BM25_B * self.dl[d] / self.avgdl)
            w = 0.0
            for t in hit:
                idf = math.log((self.n - self.df[t] + 0.5) / (self.df[t] + 0.5) + 1.0)
                w += idf * tf[t] * (BM25_K1 + 1) / (tf[t] + norm)
            out[d] = round(w, 6)
        return out


def _fts_relevance(bm25: float) -> float:
    return round(math.exp(-bm25 / BM25_DIVISOR), 6)


def _diminishing(scores: List[float]) -> float:
    scores = sorted(scores, reverse=True)
    return min(1.0, sum(s * 0.5 ** i for i, s in enumerate(scores)))


def expected_hybrid(bm25: BM25, ids, vectors, query_text: str, query,
                    per_index: int = 1000) -> List[Tuple[str, float]]:
    """hybrid_search: BM25 top list and cosine top list, merged per record
    by the weighted diminishing rerank -> (id, relevance), best first."""
    fts = sorted(bm25.scores(query_text.lower().split()).items(),
                 key=lambda kv: (-kv[1], kv[0]))[:per_index]
    cos = cosine_scores(vectors, query)
    vec = [(ids[i], round(float(cos[i]), 6))
           for i in _by_score(ids, cos)][:per_index]
    app: Dict[str, List[float]] = {}
    for d, s in fts:
        app.setdefault(d, []).append(_fts_relevance(s))
    for d, s in vec:
        app.setdefault(d, []).append(s)
    rel = {d: round(_diminishing(v), 6) for d, v in app.items()}
    return sorted(((d, r) for d, r in rel.items() if r >= 0.0),
                  key=lambda kv: (-kv[1], kv[0]))


def expected_fts(bm25: BM25, docs: Dict[str, str], subj: str, pred_word: str,
                 obj: str) -> List[Tuple[str, float]]:
    """search() for '"<subj>" AND (<pred_word> OR "<obj>")' over one node:
    case-insensitive substring predicate, BM25 over the matching records
    with whole-node statistics, relevance exp(-bm25/10)."""
    s, p, o = subj.lower(), pred_word.lower(), obj.lower()
    matched = {d for d, t in docs.items()
               if s in (t or "").lower()
               and (p in (t or "").lower() or o in (t or "").lower())}
    terms = [w for w in f"{s} {p} {o}".split() if w]
    scored = bm25.scores(terms, candidates=matched)
    rel = {d: _fts_relevance(v) for d, v in scored.items()}
    return sorted(rel.items(), key=lambda kv: (-kv[1], kv[0]))


# -- graph analytics -----------------------------------------------------------

def check_components(labels: Dict[str, str], edges: Sequence[Tuple[str, str]]
                     ) -> Problems:
    """Labels must equal networkx connected components, each labelled by
    its smallest member."""
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(edges)
    expected = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        for v in comp:
            expected[v] = m
    if labels.keys() != expected.keys():
        return [f"components: {len(labels)} labelled nodes, networkx has "
                f"{len(expected)}"]
    bad = [v for v in expected if labels[v] != expected[v]]
    if bad:
        return [f"components: {len(bad)} nodes mislabelled, e.g. {bad[0]}"]
    return []


def pagerank_iterations(edges: Sequence[Tuple[str, str]],
                        iterations: int = PAGERANK_ITERATIONS,
                        damping: float = PAGERANK_DAMPING) -> Dict[str, float]:
    """The operator's definition, replayed in plain Python: r0 = 1/N, then
    r(v) = (1-d)/N + d * sum over edges (u, v) of r(u) / outdeg(u)."""
    nodes = sorted({v for e in edges for v in e})
    n = len(nodes)
    out = Counter(u for u, _ in edges)
    ranks = dict.fromkeys(nodes, 1.0 / n)
    for _ in range(iterations):
        nxt = dict.fromkeys(nodes, 0.0)
        for u, v in edges:
            nxt[v] += ranks[u] / out[u]
        ranks = {v: (1 - damping) / n + damping * s for v, s in nxt.items()}
    return ranks


def check_pagerank(ranks: Dict[str, float], sym_edges: Sequence[Tuple[str, str]]
                   ) -> Problems:
    """Ranks over the symmetrized graph: equal to the replayed fixed-
    iteration definition within 1e-9 per node, and within the truncation
    bound (L1) of networkx PageRank run to convergence (its pure-Python
    implementation, so no scipy is needed)."""
    import networkx as nx
    from networkx.algorithms.link_analysis import pagerank_alg

    exact = pagerank_iterations(sym_edges)
    if ranks.keys() != exact.keys():
        return [f"pagerank: {len(ranks)} nodes ranked, the graph has {len(exact)}"]
    worst = max(abs(ranks[v] - exact[v]) for v in exact)
    if worst > PAGERANK_EXACT_TOL:
        return [f"pagerank: max |rank - replayed definition| = {worst:.2e}"]
    g = nx.DiGraph()
    g.add_edges_from(sym_edges)
    nxr = pagerank_alg._pagerank_python(
        g, alpha=PAGERANK_DAMPING, tol=1e-9, max_iter=1000)
    l1 = sum(abs(ranks[v] - nxr[v]) for v in nxr)
    bound = 2 * PAGERANK_DAMPING ** PAGERANK_ITERATIONS
    if l1 > bound:
        return [f"pagerank: L1 distance to networkx {l1:.4f} > {bound:.4f}"]
    return []


def _shingles(text: str, n: int = 3) -> set:
    t = " " + (text or "").lower() + " "
    if len(t) < n:
        return {t}
    return {t[i:i + n] for i in range(len(t) - n + 1)}


def exact_jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 1.0


def check_near_dup_recall(pairs: Sequence[Tuple[str, str, float]],
                          texts: Dict[str, str],
                          planted: Sequence[Tuple[str, str]],
                          sure: float = NEAR_DUP_SURE) -> Problems:
    """Every planted pair whose exact Jaccard is at least `sure` must be
    reported: 32 bands of 2 rows miss a pair that similar with probability
    below 1e-20."""
    found = {tuple(sorted(p[:2])) for p in pairs}
    missed = [p for p in planted
              if exact_jaccard(texts[p[0]], texts[p[1]]) >= sure
              and tuple(sorted(p)) not in found]
    if missed:
        return [f"near-dup: {len(missed)} planted pairs missed, e.g. {missed[0]}"]
    return []


def check_near_dups(pairs: Sequence[Tuple[str, str, float]],
                    texts: Dict[str, str], threshold: float) -> Problems:
    """Every reported near-duplicate pair has exact character-3-gram
    Jaccard >= threshold, and reports that Jaccard."""
    out = []
    for a, b, j in pairs:
        exact = exact_jaccard(texts[a], texts[b])
        if exact < threshold or abs(exact - j) > 1e-9:
            out.append(f"near-dup ({a}, {b}): reported {j:.4f}, "
                       f"exact {exact:.4f}, threshold {threshold}")
    return out
