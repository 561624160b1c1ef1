"""Property test for mixed-position doc-values trees: random nested
boolean queries (terms + year ranges anywhere, OR-groups with mm,
AND-groups, AND NOT wraps) run as ONE ``search_many`` batch together
with pure-postings requests. Every doc-values leaf of the batch is a
per-shard mask inside the batch kernel, so each request must return
exactly the doc set a brute-force Python evaluator computes over the
corpus, with or without deleted docs.

The generated grammar is restricted to shapes whose query-string
parse is unambiguous ("(a OR b)@m", "(a AND b)", "(a AND NOT b)"),
so the oracle needs no reimplementation of Lucene's infix occur
logic.
"""

import random

import pandas as pd
import pytest

from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig
from zuliasearch_spark.indexing.builder import build_index
from zuliasearch_spark.search.executor import SearchEngine
from zuliasearch_spark.search.query import SearchRequest

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
DELETED = ("2", "5", "11", "17", "20")


def _corpus_engine(spark):
    rng = random.Random(1234)
    rows = []
    for i in range(24):
        n = rng.randint(1, 4)
        text = " ".join(rng.choice(WORDS) for _ in range(n))
        rows.append((str(i), text, rng.randint(1990, 2030)))
    cfg = IndexConfig(
        index_name="prop",
        unique_id_col="uniqueId",
        number_of_shards=2,
        default_search_fields=("text",),
        field_configs=(
            FieldConfig("text", index_as=(IndexAs("text", "whitespace_lc"),)),
        ),
    )
    pdf = pd.DataFrame(rows, columns=["uniqueId", "text", "year"])
    tables = build_index(
        spark.createDataFrame(pdf), cfg, stored_cols=("year",)
    ).persist()
    docs = {uid: (set(text.split()), year) for uid, text, year in rows}
    return SearchEngine(tables), docs, tables


@pytest.fixture(scope="module")
def corpus_engine(spark):
    eng, docs, tables = _corpus_engine(spark)
    yield eng, docs
    tables.unpersist()


@pytest.fixture(scope="module")
def deleted_engine(spark):
    eng, docs, tables = _corpus_engine(spark)
    assert eng.delete_by_unique_ids(list(DELETED)) == len(DELETED)
    yield eng, {u: d for u, d in docs.items() if u not in DELETED}
    tables.unpersist()


def _gen(rng, depth):
    """Return (query_string, eval_fn(doc) -> bool)."""
    if depth == 0 or rng.random() < 0.35:
        if rng.random() < 0.5:
            w = rng.choice(WORDS)
            return f"text:{w}", lambda d, w=w: w in d[0]
        lo = rng.randint(1990, 2030)
        kind = rng.choice([">", "<", "range", "ns"])
        if kind == ">":
            return f"year>{lo}", lambda d, lo=lo: d[1] > lo
        if kind == "<":
            return f"year<{lo}", lambda d, lo=lo: d[1] < lo
        if kind == "range":
            hi = lo + rng.randint(0, 15)
            return (
                f"year:[{lo} TO {hi}]",
                lambda d, lo=lo, hi=hi: lo <= d[1] <= hi,
            )
        vals = sorted({rng.randint(1990, 2030) for _ in range(rng.randint(1, 3))})
        q = "year:zl:ns(" + " ".join(map(str, vals)) + ")"
        return q, lambda d, vs=set(vals): d[1] in vs
    kids = [_gen(rng, depth - 1) for _ in range(rng.randint(2, 3))]
    shape = rng.choice(["or", "or_mm", "and", "and_not"])
    if shape == "or":
        q = "(" + " OR ".join(k[0] for k in kids) + ")"
        return q, lambda d, ks=kids: any(f(d) for _, f in ks)
    if shape == "or_mm":
        mm = rng.randint(1, len(kids))
        q = "(" + " OR ".join(k[0] for k in kids) + f")@{mm}"
        return q, lambda d, ks=kids, mm=mm: sum(f(d) for _, f in ks) >= mm
    if shape == "and":
        q = "(" + " AND ".join(k[0] for k in kids) + ")"
        return q, lambda d, ks=kids: all(f(d) for _, f in ks)
    pos, neg = kids[0], kids[1]
    q = f"({pos[0]} AND NOT {neg[0]})"
    return q, lambda d, p=pos[1], n=neg[1]: p(d) and not n(d)


# pure-postings requests riding in every batch
POSTINGS = (
    ("text:alpha", lambda d: "alpha" in d[0]),
    ("text:beta OR text:gamma", lambda d: bool({"beta", "gamma"} & d[0])),
    ("text:delta AND NOT text:zeta", lambda d: "delta" in d[0] and "zeta" not in d[0]),
)


def _batch(seed):
    rng = random.Random(seed)
    cases = [_gen(rng, depth=2) for _ in range(14)] + list(POSTINGS)
    return {f"q{i}": c for i, c in enumerate(cases)}


def _check_batch(eng, docs, seed):
    cases = _batch(seed)
    reqs = {qid: SearchRequest(qs=q, amount=50) for qid, (q, _) in cases.items()}
    got = eng.search_many(reqs)
    for qid, (q, f) in cases.items():
        expect = {uid for uid, d in docs.items() if f(d)}
        res = got[qid]
        ids = {t["uniqueId"] for t in res["topk"]}
        assert res["totalHits"] == len(expect), (q, sorted(expect), sorted(ids))
        assert ids == expect, (q, sorted(expect - ids), sorted(ids - expect))
    return reqs, got


@pytest.mark.parametrize("seed", [3, 17, 99])
def test_random_mixed_trees_match_brute_force(corpus_engine, seed):
    eng, docs = corpus_engine
    _check_batch(eng, docs, seed)


@pytest.mark.parametrize("seed", [3, 17])
def test_random_mixed_trees_with_deletes(deleted_engine, seed):
    eng, docs = deleted_engine
    reqs, got = _check_batch(eng, docs, seed)
    for res in got.values():
        assert not {t["uniqueId"] for t in res["topk"]} & set(DELETED)
