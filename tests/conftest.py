import pytest

from zuliasearch_spark.config import FieldConfig, IndexAs, IndexConfig
from zuliasearch_spark.indexing.corpus import gen_corpus_pandas


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: drives a Spark engine end to end (deselect with -m 'not slow')")


def code_config(num_shards: int = 1, **kw) -> IndexConfig:
    """FIXTURES.md F2 index config: code corpus, camel/snake-aware."""
    return IndexConfig(
        index_name="code",
        unique_id_col="uniqueId",
        number_of_shards=num_shards,
        default_search_fields=("content",),
        field_configs=(
            FieldConfig("content", index_as=(IndexAs("content", "code_standard"),)),
            FieldConfig("path", index_as=(IndexAs("path", "lcKeyword"),)),
            FieldConfig("lang", index_as=(IndexAs("lang", "lcKeyword"),), facet_as=("lang",)),
            FieldConfig("repo", index_as=(IndexAs("repo", "lcKeyword"),), facet_as=("repo",)),
        ),
        **kw,
    )


@pytest.fixture(scope="session")
def spark():
    from zuliasearch_spark.session import get_spark

    s = get_spark(app="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_t1():
    """t1 smoke corpus: 200 docs (FIXTURES.md F1 sizes)."""
    return gen_corpus_pandas(200)


@pytest.fixture(scope="session")
def corpus_t2():
    """t2 correctness corpus: 1200 docs, multi-shard tests.

    (FIXTURES.md suggests 5000; 1200 keeps the exhaustive oracle fast
    while still covering every code path — raise for deep runs.)
    """
    return gen_corpus_pandas(1200)
