from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from etl_airflow_adventureworks_spark.session import get_spark  # noqa: E402

import os

SF_SMOKE = "/root/testdata/sf0.001"
# override to stress parity at another scale: SPARK_GRAFT_ORACLE_SF=sf0.1,
# or an absolute path (e.g. /root/repo/.scale/sf1 from tools/gen_scale.py)
_ORACLE_SF = os.environ.get("SPARK_GRAFT_ORACLE_SF", "sf0.01")
SF_ORACLE = _ORACLE_SF if _ORACLE_SF.startswith("/") else f"/root/testdata/{_ORACLE_SF}"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def smoke_star(spark, tmp_path_factory):
    """One ``build_star`` at SF_SMOKE for the tests that only read a built
    warehouse: (warehouse dir, row counts per table)."""
    from etl_airflow_adventureworks_spark.plans.pipeline import build_star

    out = str(tmp_path_factory.mktemp("smoke_star"))
    return out, build_star(spark, SF_SMOKE, out)
