"""Seeded request generators for the serving workloads.

Shapes follow the FIXTURES.md F3 mix that ``bench.bench_query_set``
uses: rare/hot, OR, AND, mm, fielded, TERMS, FILTER+scored, FILTER_NOT,
camelCase and boost. Terms are drawn Zipf-weighted from the corpus
vocabularies of ``zuliasearch_spark.indexing.corpus``. A known-answer
request asks for ``sym_<i>_a`` (``i`` >= 10), which matches exactly
document ``i``.
"""

from __future__ import annotations

import numpy as np

from zuliasearch_spark.indexing import corpus as zc
from zuliasearch_spark.search.query import QueryClause as C
from zuliasearch_spark.search.query import SearchRequest

# words with digits split into two terms under code_standard; keep
# single-term words so every shape keeps its arity
WORDS = [w for w in zc.NL_WORDS if w.isalpha()]
_W = zc._zipf_weights(len(zc.NL_WORDS))[[i for i, w in enumerate(zc.NL_WORDS) if w.isalpha()]]
WORD_P = _W / _W.sum()
CAMEL = [w for w in zc.IDENTIFIERS if "_" not in w and w != w.lower()]
REPOS = [f"org{i % 7}/repo{i % 23}" for i in range(7 * 23)]

SHAPES = ("hot", "or", "and", "mm", "fielded", "terms", "filter", "not", "camel", "boost")
CONTENT = ("content",)


class RequestGen:
    """All randomness of one workload's requests, from one seed."""

    def __init__(self, seed: int, n_docs: int):
        self.rng = np.random.default_rng([seed, 0x5EA4C4])
        self.n_docs = n_docs

    def words(self, k: int) -> list[str]:
        return list(self.rng.choice(WORDS, size=k, replace=False, p=WORD_P))

    def sym(self, doc: int | None = None) -> tuple[int, SearchRequest]:
        # code_standard splits sym_<i>_a into sym, <i>, a: all three
        # together occur only in document i once i has two digits (single
        # digits also come from filler words and "[0]")
        i = int(self.rng.integers(10, self.n_docs)) if doc is None else doc
        return i, SearchRequest((C("SCORE_MUST", q=f"sym_{i}_a", qf=CONTENT, default_op="AND"),), amount=10)

    def shaped(self, shape: str) -> SearchRequest:
        r = self.rng
        if shape == "hot":
            cl = (C("SCORE_SHOULD", q=self.words(1)[0], qf=CONTENT),)
        elif shape == "or":
            cl = (C("SCORE_SHOULD", q=" ".join(self.words(3)), qf=CONTENT),)
        elif shape == "and":
            cl = (C("SCORE_MUST", q=" ".join(self.words(2)), qf=CONTENT, default_op="AND"),)
        elif shape == "mm":
            cl = (C("SCORE_SHOULD", q=" ".join(self.words(3)), qf=CONTENT, mm=2),)
        elif shape == "fielded":
            lang = zc.LANGS[int(r.integers(len(zc.LANGS)))]
            cl = (C("SCORE_SHOULD", q=f"lang:{lang} content:{self.words(1)[0]}"),)
        elif shape == "terms":
            picks = r.choice(len(REPOS), size=2, replace=False)
            cl = (C("TERMS", terms=tuple(REPOS[i] for i in picks), qf=("repo",)),)
        elif shape == "filter":
            lang = zc.LANGS[int(r.integers(len(zc.LANGS)))]
            cl = (C("SCORE_SHOULD", q=" ".join(self.words(2)), qf=CONTENT), C("FILTER", q=f"lang:{lang}"))
        elif shape == "not":
            lang = zc.LANGS[int(r.integers(len(zc.LANGS)))]
            cl = (C("FILTER_NOT", q=f"lang:{lang}"), C("SCORE_SHOULD", q=" ".join(self.words(2)), qf=CONTENT))
        elif shape == "camel":
            ident = CAMEL[int(r.integers(len(CAMEL)))]
            cl = (C("SCORE_MUST", q=ident, qf=CONTENT, default_op="AND"),)
        elif shape == "boost":
            a, b = self.words(2)
            cl = (C("SCORE_SHOULD", q=a, qf=CONTENT, boost=2.0), C("SCORE_SHOULD", q=b, qf=CONTENT))
        else:
            raise ValueError(shape)
        return SearchRequest(cl, amount=10)

    # -- doc-values shapes (serve_mixed_rw) --------------------------------

    DV_KINDS = ("range_and", "range_should", "range_nested", "numeric_set")

    def dv(self, kind: str, n_bytes: np.ndarray) -> tuple[SearchRequest, str, tuple]:
        """A request with a doc-values leaf on ``n_bytes``. Returns the
        request, the lexical word(s) it uses and the numeric predicate
        as (kind, args) for the brute-force check."""
        r = self.rng
        a, b = self.words(2)
        lo = int(np.quantile(n_bytes, r.uniform(0.1, 0.6)))
        hi = int(np.quantile(n_bytes, r.uniform(0.65, 0.95)))
        if kind == "range_and":
            qs = f"content:{a} AND n_bytes:[{lo} TO {hi}]"
            pred = ("range", lo, hi)
        elif kind == "range_should":
            qs = f"content:{a} OR n_bytes>{hi}"
            pred = ("gt", hi)
        elif kind == "range_nested":
            qs = f"(content:{a} OR n_bytes>{hi}) AND content:{b}"
            pred = ("gt", hi)
        else:
            vals = sorted({int(v) for v in r.choice(n_bytes, size=3)})
            qs = f"content:{a} AND n_bytes:zl:ns({' '.join(map(str, vals))})"
            pred = ("in", tuple(vals))
        return SearchRequest(qs=qs, amount=10), (a, b), pred

    def phrase(self, docs: list[list[str]]) -> SearchRequest:
        """A two-word phrase read from a random document, so it has hits."""
        for _ in range(100):
            toks = docs[int(self.rng.integers(len(docs)))]
            k = int(self.rng.integers(len(toks) - 1))
            a, b = toks[k], toks[k + 1]
            if a.isalpha() and b.isalpha() and a.islower() and b.islower():
                return SearchRequest((C("SCORE_SHOULD", phrase=(a, b), qf=CONTENT),), amount=10)
        return SearchRequest((C("SCORE_SHOULD", phrase=("parse", "query"), qf=CONTENT),), amount=10)


def matches_pred(pred: tuple, v) -> bool:
    if pred[0] == "range":
        return pred[1] <= v <= pred[2]
    if pred[0] == "gt":
        return v > pred[1]
    return v in pred[1]
