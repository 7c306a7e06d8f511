"""The ``etl_backfill`` generator at a small size: its sources exercise every
FIXTURES.md constraint, and ``run_etl`` loads exactly the rows its model
predicts, then nothing on a re-run.

    python3 -m pytest perfbench/test_etl_gen.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import etl_gen  # noqa: E402


def test_small_sources_meet_every_constraint():
    assert etl_gen.check_constraints(etl_gen.generate(3, n_employees=20, n_days=2)) == []


@pytest.fixture(scope="module")
def spark():
    from data_management_service_run_etl_imputations_spark.session import get_session

    s = get_session(app_name="perfbench-etl-gen-test")
    yield s
    s.stop()


def test_run_etl_matches_the_model(spark, tmp_path):
    from data_management_service_run_etl_imputations_spark.plans.run import run_etl

    src = etl_gen.generate(5, n_employees=20, n_days=3)
    etl_gen.write_parquet(src, str(tmp_path / "in"))
    out = str(tmp_path / "out")
    for day in src.days[:2]:
        got = run_etl(spark, str(tmp_path / "in"), out, day, day)
        assert got == {
            "fact_imputaciones": len(src.expected_imp[day]),
            "fact_fichajes": len(src.expected_fic[day]),
        }
        assert run_etl(spark, str(tmp_path / "in"), out, day, day) == {
            "fact_imputaciones": 0,
            "fact_fichajes": 0,
        }
    imp = spark.read.parquet(f"{out}/fact_imputaciones").collect()
    fic = spark.read.parquet(f"{out}/fact_fichajes").collect()
    assert etl_gen.compare(src, src.days[:2], imp, fic) == (set(), [])
