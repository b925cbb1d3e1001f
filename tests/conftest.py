from __future__ import annotations

import os

import pytest

from lakeflow.scratch import use_process_scratch
from lakeflow.session import get_session

# Route every ephemeral mkdtemp the suite triggers (stream checkpoints,
# scratch VersionedTables, example workdirs) into a pid-keyed root that is
# removed at interpreter exit — at import time, so even collection-time
# temp dirs are scoped (lakeflow/scratch.py).
use_process_scratch()

SF_DIR = os.environ.get("LAKEFLOW_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MID = "/root/testdata/sf0.01"

@pytest.fixture(scope="session")
def spark():
    spark = get_session(
        "lakeflow-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
            "spark.driver.memory": "4g",
        },
    )
    yield spark
    spark.stop()
