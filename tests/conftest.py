import pytest

from pdf_parser_spark.fixtures.gen import fixture_corpus, to_spark_df
from pdf_parser_spark.oracle import refsem
from pdf_parser_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="pdf_parser_spark-tests", master="local[4]",
                      shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def corpus():
    return fixture_corpus(n_docs=24, mega_spans=600)


@pytest.fixture(scope="session")
def docs_df(spark, corpus):
    df = to_spark_df(spark, corpus)
    df.cache().count()
    return df


@pytest.fixture(scope="session")
def oracle_results(corpus):
    return {d["doc_id"]: refsem.run_document(d) for d in corpus}


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long checks, collected only under `-m slow`"
    )


def pytest_collection_modifyitems(config, items):
    """Deselect ``slow`` tests unless the mark expression names them, so
    the default run's set and runtime do not change."""
    if "slow" in (config.getoption("markexpr") or ""):
        return
    slow = [i for i in items if i.get_closest_marker("slow")]
    if slow:
        config.hook.pytest_deselected(items=slow)
        items[:] = [i for i in items if not i.get_closest_marker("slow")]
