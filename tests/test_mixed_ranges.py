"""Doc-values leaves (ranges / numeric sets) in any boolean position —
Lucene's BooleanQuery accepts IndexOrDocValuesQuery clauses anywhere
(ZuliaPointRangeQueryNodeBuilder builds them like any other clause).
The engine evaluates each leaf as a per-shard allowed-doc mask inside
the postings kernel (``SearchEngine._dv_mask_frame``), so a batch
costs the same Spark jobs with or without them.

Oracle: hand-computed counts/rankings over a 6-doc corpus.
"""

import pandas as pd
import pytest

from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig
from zuliasearch_spark.indexing.builder import build_index
from zuliasearch_spark.search.executor import SearchEngine
from zuliasearch_spark.search.query import QueryClause as C
from zuliasearch_spark.search.query import SearchRequest


@pytest.fixture(scope="module")
def engine(spark):
    cfg = IndexConfig(
        index_name="mixed",
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


def _ids(engine, q, **kw):
    r = engine.search_string(q, amount=10, **kw)
    return r["totalHits"], sorted(x["uniqueId"] for x in r["topk"])


def test_should_range_unions_with_lexical(engine):
    # alpha docs {1,3,5} ∪ year>2015 {2,4,5} = {1,2,3,4,5}
    assert _ids(engine, "text:alpha OR year>2015") == (5, ["1", "2", "3", "4", "5"])


def test_nested_range_inside_and(engine):
    # (year>2015 {2,4,5} ∪ delta {2,4}) ∩ gamma {2,3} = {2}
    assert _ids(engine, "(year>2015 OR text:delta) AND text:gamma") == (1, ["2"])


def test_unmatched_range_leaves_lexical(engine):
    assert _ids(engine, "text:alpha OR year>2030") == (3, ["1", "3", "5"])


def test_mm_group_with_should_range(engine):
    # (alpha OR gamma)@2 = {3} ∪ year>2019 {2,4} = {2,3,4}
    assert _ids(engine, "(text:alpha OR text:gamma)@2 OR year>2019") == (3, ["2", "3", "4"])


def test_negated_mixed_group(engine):
    # NOT(alpha {1,3,5} ∪ year>2015 {2,4,5}) = {6}
    assert _ids(engine, "*:* AND NOT (text:alpha OR year>2015)") == (1, ["6"])


def test_pure_range_disjunction_with_not(engine):
    # (year<2005 {3,6} ∪ year>2019 {2,4}) minus delta {2,4} = {3,6}
    assert _ids(engine, "(year<2005 OR year>2019) AND NOT text:delta") == (2, ["3", "6"])


def test_range_or_scoring_keeps_lexical_order(engine):
    # dv-only matches score 0.0 and rank below lexical matches
    r = engine.search_string("text:zeta OR year>2019", amount=10)
    assert r["totalHits"] == 3
    assert r["topk"][0]["uniqueId"] == "6"
    assert r["topk"][0]["score"] > 0.0
    assert all(t["score"] == 0.0 for t in r["topk"][1:])


def test_facets_accept_nested_ranges(engine):
    # match_ids shares the mask path, so aggregation surfaces accept
    # doc-values leaves anywhere too
    req = SearchRequest(qs="text:alpha OR year>2015", amount=1)
    m = engine.match_ids(req)
    assert m.count() == 5


def test_conjunct_fast_path_unchanged(engine):
    assert _ids(engine, "text:alpha AND year>2015") == (1, ["5"])
    assert _ids(engine, "year>2015") == (3, ["2", "4", "5"])


def test_filter_range_clause_keeps_should_scores(engine):
    # a FILTER clause whose q is a range only constrains the match set:
    # the SCORE_SHOULD scores are those of the lexical clause alone
    lexical = C("SCORE_SHOULD", q="text:alpha", qf=("text",))
    base = engine.search(SearchRequest((lexical,), amount=10))
    both = engine.search(
        SearchRequest((lexical, C("FILTER", q="year:[2005 TO 2020]")), amount=10)
    )
    base_scores = {t["uniqueId"]: t["score"] for t in base["topk"]}
    got = {t["uniqueId"]: t["score"] for t in both["topk"]}
    # years 2010 (doc 1), 2020 (doc 2), 2018 (doc 5)
    assert both["totalHits"] == 3 and set(got) == {"1", "2", "5"}
    assert got["1"] == base_scores["1"] and got["5"] == base_scores["5"]
    assert got["2"] == 0.0
    tree = engine._clauses_to_tree(
        SearchRequest((lexical, C("FILTER", q="year:[2005 TO 2020]", boost=3.0)))
    )
    assert all(sub.boost == 0.0 for occur, sub in tree.children if occur == "MUST")


MIXED = {
    "and": SearchRequest(qs="text:alpha AND year>2015", amount=10),
    "or": SearchRequest(qs="text:zeta OR year>2019", amount=10),
    "ns": SearchRequest(qs="text:delta AND year:zl:ns(2020 2021)", amount=10),
    "plain": SearchRequest(qs="text:alpha OR text:gamma", amount=10),
}


def test_fetch_is_uniform_across_a_mixed_batch(engine):
    for fetch, keys in (("ids", {"shard", "doc_id", "score", "uniqueId"}),
                        ("none", {"shard", "doc_id", "score"})):
        res = engine.search_many(MIXED, fetch=fetch)
        for qid, r in res.items():
            assert r["topk"], qid
            assert all(set(t) == keys for t in r["topk"]), (fetch, qid, r["topk"])


def _batch_jobs(spark, engine, reqs, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        engine.search_many(reqs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_batch_jobs_do_not_grow_with_dv_requests(spark, engine):
    words = ("alpha", "beta", "gamma", "delta", "epsilon")
    plain = {f"p{i}": SearchRequest(qs=f"text:{words[i % 5]}", amount=10) for i in range(50)}
    mixed = dict(plain)
    for i in range(25):
        mixed[f"p{i}"] = SearchRequest(
            qs=f"text:{words[i % 5]} {'AND' if i % 2 else 'OR'} year>{1995 + i}", amount=10
        )
    engine.search_many(mixed)  # term statistics cached for both batches
    n_plain = _batch_jobs(spark, engine, plain, "dv_jobs_plain")
    n_mixed = _batch_jobs(spark, engine, mixed, "dv_jobs_mixed")
    assert n_mixed - n_plain <= 1, (n_plain, n_mixed)


def _walk(node):
    """Physical plan nodes, descending into adaptive query stages."""
    yield node
    if node.nodeName().endswith("QueryStage"):
        yield from _walk(node.plan())
    it = node.children().iterator()
    while it.hasNext():
        yield from _walk(it.next())


def test_pinned_postings_side_has_no_exchange(engine, monkeypatch):
    # pin() docstring invariant: the resident copy is already
    # partitioned by shard, so the kernel's postings side needs no
    # exchange — also when the doc-values mask frame is cogrouped in
    frames = []
    df_cls = type(engine.tables.doc_map)
    orig = df_cls.toPandas

    def capture(df):
        frames.append(df)
        return orig(df)

    engine.pin()
    monkeypatch.setattr(df_cls, "toPandas", capture)
    try:
        res = engine.search_many(MIXED, fetch="none")
    finally:
        monkeypatch.undo()
        engine.unpin()
    assert res["and"]["totalHits"] == 1
    plan = frames[0]._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    cogroup = [n for n in _walk(plan) if n.nodeName() == "FlatMapCoGroupsInPandas"]
    assert cogroup, plan.treeString()
    postings = [n.nodeName() for n in _walk(cogroup[0].children().apply(0))]
    assert "InMemoryTableScan" in postings, postings
    assert not [n for n in postings if "Exchange" in n], postings
