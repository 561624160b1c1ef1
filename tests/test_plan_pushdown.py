"""Physical-plan assertions — the 100 TB lens as tests: doc-values
range/set predicates must reach the parquet scan as PushedFilters
(row-group min-max skipping; a coalesce() wrapper silently disables
this and forces a full doc_map scan), the postings scan must prune
the positions stream for term-only queries (ReadSchema), and
MUST_NOT range semantics (docs without the field are kept) must
survive the pushdown-friendly predicate shape."""

import re

import pandas as pd
import pytest

from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig
from zuliasearch_spark.indexing.builder import build_index, read_index, write_index
from zuliasearch_spark.search.executor import SearchEngine


def _formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _pushed_filters(df) -> str:
    return " | ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", _formatted_plan(df)))


@pytest.fixture(scope="module")
def parquet_engine(spark, tmp_path_factory):
    rows = [
        ("p0", "alpha scan", 5, "en"),
        ("p1", "alpha scan", 7, "fr"),
        ("p2", "alpha scan", 20, None),
        ("p3", "alpha scan", None, "en"),
    ]
    cfg = IndexConfig(
        index_name="plans",
        unique_id_col="uniqueId",
        number_of_shards=1,
        default_search_fields=("content",),
        field_configs=(
            FieldConfig("content", index_as=(IndexAs("content", "whitespace_lc"),)),
        ),
    )
    pdf = pd.DataFrame(rows, columns=["uniqueId", "content", "n", "lang"])
    pdf["n"] = pdf["n"].astype("Int64")
    sdf = spark.createDataFrame(pdf, "uniqueId string, content string, n int, lang string")
    mem = build_index(sdf, cfg, stored_cols=("n", "lang"))
    path = str(tmp_path_factory.mktemp("plan_idx"))
    write_index(mem, path)
    # read back unpersisted so plans show real parquet scans
    tables = read_index(spark, path, cfg)
    return SearchEngine(tables)


def test_range_predicate_pushes_to_parquet(parquet_engine):
    from zuliasearch_spark.search.parser import RRange

    pred = parquet_engine._range_predicate(RRange(("n",), "5", "9", True, True))
    df = parquet_engine.tables.doc_map.filter(pred)
    pushed = _pushed_filters(df)
    assert "GreaterThanOrEqual(n,5)" in pushed and "LessThanOrEqual(n,9)" in pushed, (
        f"range predicate must reach the parquet scan, got PushedFilters [{pushed}] "
        f"for predicate {pred!r}"
    )


def test_numeric_set_predicate_pushes_to_parquet(parquet_engine):
    from zuliasearch_spark.search.parser import RNumericSet

    pred = parquet_engine._range_predicate(RNumericSet(("n",), ("5", "7")))
    pushed = _pushed_filters(parquet_engine.tables.doc_map.filter(pred))
    assert "In(n" in pushed, f"IN set must push, got [{pushed}] for {pred!r}"


def test_must_not_range_keeps_nulls(parquet_engine):
    # NOT n:[5 TO 9] keeps p2 (n=20) AND p3 (n NULL) — Lucene MUST_NOT
    res = parquet_engine.search_string("content:alpha AND NOT n:[5 TO 9]", amount=10)
    got = sorted(t["uniqueId"] for t in res["topk"])
    assert got == ["p2", "p3"]


def test_positive_range_drops_nulls(parquet_engine):
    res = parquet_engine.search_string("content:alpha AND n:[5 TO 9]", amount=10)
    assert sorted(t["uniqueId"] for t in res["topk"]) == ["p0", "p1"]


def test_alias_or_expansion_still_pushes(parquet_engine):
    from zuliasearch_spark.search.parser import RRange

    pred = parquet_engine._range_predicate(RRange(("n", "n"), "5", None, True, True))
    pushed = _pushed_filters(parquet_engine.tables.doc_map.filter(pred))
    assert "GreaterThanOrEqual(n,5)" in pushed


def test_postings_scan_prunes_positions(parquet_engine):
    import pyspark.sql.functions as F

    scan = parquet_engine._postings_scan(F.col("field") == "content", need_positions=False)
    plan = _formatted_plan(scan)
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m is not None and "pos_bytes" not in m.group(1), (
        "term-only postings scans must project out the positions stream: "
        f"{m.group(1) if m else plan[:400]}"
    )
    # the field filter reaches the scan — as a PartitionFilter when
    # postings are partitioned by field (directory-level pruning,
    # stronger than row-group min-max), else as a PushedFilter
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert "field" in (_pushed_filters(scan) + " ".join(pf))


def test_batch_kernel_pushes_dv_predicates(parquet_engine, monkeypatch):
    # doc-values leaves ride in the batch kernel job as mask columns;
    # their bare comparisons must still reach the doc_map parquet scan
    from zuliasearch_spark.search.query import SearchRequest

    frames = []
    df_cls = type(parquet_engine.tables.doc_map)
    orig = df_cls.toPandas

    def capture(df):
        frames.append(df)
        return orig(df)

    monkeypatch.setattr(df_cls, "toPandas", capture)
    try:
        res = parquet_engine.search_many(
            {
                "range": SearchRequest(qs="content:alpha AND n:[5 TO 9]", amount=10),
                "set": SearchRequest(qs="content:alpha OR n:zl:ns(20)", amount=10),
            },
            fetch="none",
        )
    finally:
        monkeypatch.undo()
    assert res["range"]["totalHits"] == 2 and res["set"]["totalHits"] == 4
    pushed = _pushed_filters(frames[0])
    assert "GreaterThanOrEqual(n,5)" in pushed and "LessThanOrEqual(n,9)" in pushed, pushed
    assert "EqualTo(n,20)" in pushed or "In(n" in pushed, pushed
