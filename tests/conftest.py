from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from architrave_project_apache_nifi_spark.session import apply_engine_conf

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    import tempfile

    # Engine conf first, so the fixture's own values (a 4g heap, not the
    # engine's 48g default) win.
    builder = (
        apply_engine_conf(SparkSession.builder.appName("engine-tests"))
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="spark-wh-"))
    )
    s = builder.getOrCreate()
    # Small inputs: fewer initial shuffle partitions keeps tests fast.
    s.conf.set("spark.sql.shuffle.partitions", "4")
    yield s
    s.stop()
