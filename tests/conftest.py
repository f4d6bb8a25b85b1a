from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from tcdb_spark.session import get_spark

    # The session default heap cap (48g) lets G1 grow the one test JVM
    # past a 16 GB machine's memory over a full run (13.8 GB resident
    # by tests/test_sinks_datasets.py, then killed by the kernel); the
    # suite's data is small, so a 6g cap keeps it inside the machine.
    os.environ.setdefault("SPARK_DRIVER_MEM", "6g")
    wh = str(tmp_path_factory.mktemp("spark_warehouse"))
    s = get_spark(
        "tcdb-tests",
        cpus=8,
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield s
