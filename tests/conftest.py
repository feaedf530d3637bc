import duckdb
import pytest

from geotiff_scalable_analysis_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "gsap-tests",
        master="local[8]",
        extra_conf={"spark.sql.shuffle.partitions": "8", "spark.default.parallelism": "8"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    yield con
    con.close()
