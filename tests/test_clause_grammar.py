"""Clause-model ``q`` through the FULL query-string grammar.

The reference parses every clause's q with ZuliaFlexibleQueryParser
(ZuliaIndex.java:946-964) before combining clauses by occur into one
BooleanQuery (getQuery:700-774). Round-4's mini-grammar guard raised
on bool operators in clause text; round 5 routes grammar-bearing
clause text through search.parser instead (executor._clauses_to_tree)
so ``QueryClause(q="a OR b")`` behaves exactly like ``qs="a OR b"``.
Plain token clauses keep the batch DAAT kernel — their grammar
equivalence is asserted here too.
"""

import pandas as pd
import pytest

from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig
from zuliasearch_spark.indexing.builder import build_index
from zuliasearch_spark.search.executor import SearchEngine
from zuliasearch_spark.search.query import (
    QueryClause,
    SearchRequest,
    clause_q_is_plain,
    resolve_clause,
)

C = QueryClause


@pytest.fixture(scope="module")
def engine(spark):
    cfg = IndexConfig(
        index_name="clauseg",
        unique_id_col="uniqueId",
        number_of_shards=2,
        default_search_fields=("text",),
        field_configs=(
            FieldConfig("text", index_as=(IndexAs("text", "whitespace_lc"),)),
        ),
    )
    rows = [
        ("1", "alpha beta", 2010),
        ("2", "gamma delta", 2020),
        ("3", "alpha gamma", 2000),
        ("4", "beta delta epsilon", 2021),
        ("5", "alpha epsilon", 2018),
        ("6", "zeta", 1999),
    ]
    pdf = pd.DataFrame(rows, columns=["uniqueId", "text", "year"])
    tables = build_index(
        spark.createDataFrame(pdf), cfg, stored_cols=("year",)
    ).persist()
    yield SearchEngine(tables)
    tables.unpersist()


def _res(out):
    return (
        out["totalHits"],
        [(t["uniqueId"], round(t["score"], 5)) for t in out["topk"]],
    )


def test_clause_bool_grammar_matches_qs(engine):
    q = "alpha OR (beta AND delta)"
    via_clause = engine.search(SearchRequest((C("SCORE_SHOULD", q=q),), amount=10))
    via_qs = engine.search(SearchRequest(qs=q, amount=10))
    assert _res(via_clause) == _res(via_qs)
    assert via_clause["totalHits"] == 4  # {1,3,5} ∪ {4}


def test_plain_clause_matches_qs(engine):
    # fast-path (kernel) clause vs full grammar: identical ranking
    via_clause = engine.search(
        SearchRequest((C("SCORE_SHOULD", q="alpha gamma", qf=("text",)),), amount=10)
    )
    via_qs = engine.search(SearchRequest(qs="alpha gamma", qf=("text",), amount=10))
    assert _res(via_clause) == _res(via_qs)


def test_clause_range_filter_scores_like_reference(engine):
    # FILTER occur: constrains, contributes NO score — scored clause's
    # BM25 numbers must equal the unfiltered ones for surviving docs
    base = engine.search(SearchRequest((C("SCORE_SHOULD", q="alpha"),), amount=10))
    base_scores = {t["uniqueId"]: t["score"] for t in base["topk"]}
    out = engine.search(
        SearchRequest(
            (
                C("SCORE_SHOULD", q="alpha"),
                C("FILTER", q="year:[2005 TO 2020]"),
            ),
            amount=10,
        )
    )
    # SHOULD next to FILTER is optional (Lucene BooleanQuery): every
    # year-range doc matches; alpha docs carry their unfiltered BM25
    # score, filter-only docs score 0
    assert sorted(t["uniqueId"] for t in out["topk"]) == ["1", "2", "5"]
    for t in out["topk"]:
        assert t["score"] == pytest.approx(base_scores.get(t["uniqueId"], 0.0), rel=1e-6)


def test_clause_phrase_grammar(engine):
    out = engine.search(SearchRequest((C("SCORE_SHOULD", q='"alpha beta"'),), amount=10))
    assert [t["uniqueId"] for t in out["topk"]] == ["1"]


def test_clause_should_range_mixed_tree(engine):
    # doc-values leaf in SHOULD position inside clause q: a kernel mask
    out = engine.search(
        SearchRequest((C("SCORE_SHOULD", q="alpha OR year>2015"),), amount=10)
    )
    assert out["totalHits"] == 5
    assert sorted(t["uniqueId"] for t in out["topk"]) == ["1", "2", "3", "4", "5"]


def test_clause_negative_grammar(engine):
    # gamma docs {2,3} minus (alpha OR beta) docs {1,3,4,5} = {2}
    out = engine.search(
        SearchRequest(
            (
                C("SCORE_SHOULD", q="gamma"),
                C("FILTER_NOT", q="(alpha OR beta)"),
            ),
            amount=10,
        )
    )
    assert _res(out)[0] == 1
    assert out["topk"][0]["uniqueId"] == "2"


def test_clause_wildcard_grammar(engine):
    out = engine.search(SearchRequest((C("SCORE_SHOULD", q="text:alp*"),), amount=10))
    assert sorted(t["uniqueId"] for t in out["topk"]) == ["1", "3", "5"]


def test_clause_boost_applies_to_grammar_subtree(engine):
    q = "alpha OR beta"
    one = engine.search(SearchRequest((C("SCORE_SHOULD", q=q, boost=1.0),), amount=10))
    two = engine.search(SearchRequest((C("SCORE_SHOULD", q=q, boost=2.0),), amount=10))
    s1 = {t["uniqueId"]: t["score"] for t in one["topk"]}
    for t in two["topk"]:
        assert t["score"] == pytest.approx(2.0 * s1[t["uniqueId"]], rel=1e-6)


def test_mixed_plain_and_grammar_clauses(engine):
    # plain clause converted onto the tree next to a grammar clause
    out = engine.search(
        SearchRequest(
            (
                C("SCORE_SHOULD", q="epsilon", qf=("text",)),
                C("FILTER", q="(beta OR gamma)"),
            ),
            amount=10,
        )
    )
    # FILTER (beta ∪ gamma) = {1,2,3,4} all match (SHOULD optional
    # next to FILTER); only doc 4 also has epsilon so it ranks first
    # with a positive score, the rest score 0
    assert _res(out)[0] == 4
    assert out["topk"][0]["uniqueId"] == "4"
    assert out["topk"][0]["score"] > 0
    assert all(t["score"] == 0.0 for t in out["topk"][1:])


def test_plainness_detector():
    assert clause_q_is_plain("alpha beta text:gamma")
    assert clause_q_is_plain("added:2024-06-17T16:10:00Z")  # raw ':' stays literal
    for q in (
        "a OR b",
        "a AND b",
        "NOT a",
        "year:[2020 TO 2024]",
        "(a b)",
        '"a phrase"',
        "term~2",
        "wild*card",
        "+required",
        "-banned",
        "field:(a b)",
        "boost^2",
        "|title|:0",
        "year>2015",
        "2020 TO 2024",
    ):
        assert not clause_q_is_plain(q), q


def test_resolve_clause_rejects_grammar_text():
    # direct resolve_clause callers still fail loud (ADVICE r4: the
    # fielded-range form 'year:[2020 TO 2024]' must not silently
    # analyze 'year:[2020' as a literal term)
    analyze = lambda f, t: [t.lower()]  # noqa: E731
    for q in ("a OR b", "year:[2020 TO 2024]", "x TO y", '"p q"'):
        with pytest.raises(ValueError, match="grammar"):
            resolve_clause(C("SCORE_SHOULD", q=q), analyze, ("text",))


def test_search_many_routes_docvalues_requests(engine):
    """Batch API: requests whose resolved tree carries doc-values
    leaves (range conjuncts or SHOULD-position points) run in the one
    batched kernel job next to pure postings requests."""
    reqs = {
        "plain": SearchRequest(qs="alpha", qf=("text",), amount=10),
        "ranged": SearchRequest(qs="alpha AND year:[2005 TO 2020]", qf=("text",), amount=10),
        "mixed": SearchRequest(qs="alpha OR year>2015", qf=("text",), amount=10),
        "clause": SearchRequest(
            (C("SCORE_SHOULD", q="gamma"), C("FILTER", q="year:[1990 TO 2010]")),
            amount=10,
        ),
    }
    out = engine.search_many(reqs)
    assert out["plain"]["totalHits"] == 3          # {1,3,5}
    assert out["ranged"]["totalHits"] == 2         # alpha ∩ 2005..2020 = {1,5}
    assert out["mixed"]["totalHits"] == 5          # {1,2,3,4,5}
    assert out["clause"]["totalHits"] == 3         # year 1990..2010 = {1,3,6}
    singles = {k: engine.search(r) for k, r in reqs.items()}
    for k in reqs:
        assert out[k]["totalHits"] == singles[k]["totalHits"], k


def test_facets_over_clause_grammar_request(spark):
    """Aggregations ride match_ids, which accepts clause-grammar
    requests too: facet counts over a clause whose q mixes booleans
    with a fielded range."""
    cfg = IndexConfig(
        index_name="clausef",
        unique_id_col="uniqueId",
        number_of_shards=2,
        default_search_fields=("text",),
        field_configs=(
            FieldConfig("text", index_as=(IndexAs("text", "whitespace_lc"),)),
            FieldConfig("tag", index_as=(IndexAs("tag", "lcKeyword"),), facet_as=("tag",)),
        ),
    )
    rows = [
        ("1", "alpha beta", "red", 2010),
        ("2", "gamma delta", "red", 2020),
        ("3", "alpha gamma", "blue", 2000),
        ("4", "beta delta", "blue", 2021),
        ("5", "alpha beta", "red", 2018),
    ]
    df = spark.createDataFrame(rows, "uniqueId string, text string, tag string, year int")
    tables = build_index(df, cfg, stored_cols=("tag", "year")).persist()
    try:
        eng = SearchEngine(tables)
        req = SearchRequest(
            (C("SCORE_SHOULD", q="alpha OR delta"), C("FILTER", q="year:[2005 TO 2020]")),
            amount=10,
        )
        # match set: (alpha {1,3,5} ∪ delta {2,4}) ∩ 2005..2020 {1,2,5}
        got = {r["value"]: r["cnt"] for r in eng.facet_counts(req, "tag").collect()}
        assert got == {"red": 3}
    finally:
        tables.unpersist()
