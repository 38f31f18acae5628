import pandas as pd
import pytest

from dbus_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="dbus_spark_tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_confs={
            # the in-memory HDFS-backed store, session.py's default
            # too; pinned here so the tests run on it even when
            # SPARK_GRAFT_STATE_STORE selects RocksDB
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "HDFSBackedStateStoreProvider"
            ),
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts_pd():
    from dbus_spark.datagen import generate_transcripts

    return generate_transcripts(n_convs=80, seed=42)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pd):
    df = spark.createDataFrame(transcripts_pd.drop(columns=["_arrival"]))
    return df.cache()


def assert_pdf_equal(left: pd.DataFrame, right: pd.DataFrame, keys):
    """Order-insensitive frame comparison on sorted keys."""
    l = left.sort_values(keys, kind="stable").reset_index(drop=True)
    r = right.sort_values(keys, kind="stable").reset_index(drop=True)
    l = l[sorted(l.columns)]
    r = r[sorted(r.columns)]
    pd.testing.assert_frame_equal(l, r, check_dtype=False)
