"""The local twin of the driver's correctness gate: every catalog query
with an oracle is executed on Spark and DuckDB over the same fixtures and
must match cell-for-cell (order-insensitive).  Rows-only queries are
smoke-executed (>=0 rows, stable schema)."""

from __future__ import annotations

import os
import sys

import pytest

from real_time_big_data_iot_monitoring_pipeline_spark.plans import DRIVER_WINDOW, REGISTRY
from tests.compare import assert_frames_match

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
from backlog_audit import changed_queries  # noqa: E402

ORACLE_QUERIES = sorted(name for name, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(name for name, q in REGISTRY.items() if q.oracle is None)

# Most changed queries the default run executes beyond the driver window.
CHANGED_CAP = 40


def _changed_leg() -> list:
    """The oracle queries outside DRIVER_WINDOW whose code changed since
    the last driver-verified tree (tools/backlog_audit.py), sorted and
    capped; what cannot run here is one loudly skipped entry."""
    changed = changed_queries()
    if changed is None:
        reason = "git history unavailable: the changed-query leg has no anchor commit"
        return [pytest.param("no-git-history", marks=pytest.mark.skip(reason=reason))]
    extra = sorted(n for n in changed if n not in DRIVER_WINDOW and REGISTRY[n].oracle)
    leg: list = extra[:CHANGED_CAP]
    left_out = extra[CHANGED_CAP:]
    if left_out:
        reason = (
            f"{len(left_out)} changed oracle queries past the cap of {CHANGED_CAP} did not run: "
            f"{', '.join(left_out)}; run them with: python -m pytest tests/test_oracle_parity.py "
            f"-m slow -k \"test_oracle_match and ({' or '.join(left_out)})\""
        )
        leg.append(pytest.param("past-the-cap", marks=pytest.mark.skip(reason=reason)))
    return leg


def _check(name, spark, sf_dir, oracle):
    q = REGISTRY[name]
    spark_pdf = q.build(spark, sf_dir).toPandas()
    oracle_pdf = oracle.sql(q.oracle).df()
    assert_frames_match(spark_pdf, oracle_pdf, name)


# The default run checks the 50-query DRIVER_WINDOW the driver hashes, plus
# every oracle query whose code changed since the driver last verified the
# tree.  The full 398-query leg is `slow`.
@pytest.mark.parametrize("name", [n for n in DRIVER_WINDOW if REGISTRY[n].oracle])
def test_oracle_match_driver_window(name, spark, sf_dir, oracle):
    _check(name, spark, sf_dir, oracle)


@pytest.mark.parametrize("name", _changed_leg())
def test_oracle_match_changed(name, spark, sf_dir, oracle):
    _check(name, spark, sf_dir, oracle)


@pytest.mark.slow
@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(name, spark, sf_dir, oracle):
    _check(name, spark, sf_dir, oracle)


@pytest.mark.slow
@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_smoke(name, spark, sf_dir):
    q = REGISTRY[name]
    df = q.build(spark, sf_dir)
    n = df.count()
    assert n >= 0
    assert len(df.columns) > 0
