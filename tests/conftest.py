from __future__ import annotations

import pytest

from dedup_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dedup_spark_tests", cores=4)
    yield s
    s.stop()
