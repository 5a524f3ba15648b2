import pytest

from polars_iptools_spark.session import get_spark
from polars_iptools_spark.sources.mmdb_synth import write_golden_geolite


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def maxmind_dir(tmp_path_factory):
    """Directory holding the golden GeoLite2-ASN/City test databases
    (FIXTURES.md §5), written once per session."""
    return str(write_golden_geolite(tmp_path_factory.mktemp("maxmind")))


def collect_col(df, col="result"):
    return [r[col] for r in df.select(col).collect()]
