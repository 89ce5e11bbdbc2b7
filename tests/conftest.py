import pytest
from pyspark.sql import Row

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.session import get_spark

# the small corpus the oov / vocab / cache-hygiene tests share: two
# near-duplicates, two pangrams, an empty doc and a repetitive one
SMALL_CORPUS = (
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "pack my box with five dozen liquor jugs",
    "sphinx of black quartz judge my vow",
    "",
    "the the the quick quick zebra",
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="caf-spark-tests", shuffle_partitions=4)
    yield s


@pytest.fixture
def make_docs(spark):
    """``make_docs(texts, start=0)`` -> (doc_id long, text string) frame,
    doc ids numbered from ``start``."""

    def make(texts, start=0):
        return spark.createDataFrame(
            list(enumerate(texts, start=start)), "doc_id long, text string"
        )

    return make


@pytest.fixture
def make_vecs(spark):
    """``make_vecs(rows, labels=None)`` -> (vec_id, embedding) frame from
    ``(vec_id, vector)`` rows; with ``labels`` (one per row) it also
    carries a ``label`` column."""

    def make(rows, labels=None):
        if labels is None:
            return spark.createDataFrame(
                [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in rows]
            )
        return spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in v], label=lbl)
             for (i, v), lbl in zip(rows, labels, strict=True)]
        )

    return make
