"""Differential tests: every declared query vs its DuckDB oracle at sf0.001.

This is a local fast mirror of the driver's sf0.01 correctness gate.
"""

from __future__ import annotations

import pytest

from summit_23_snowpark_data_lake_workloads_spark.plans.queries import ORACLES, QUERIES

from .conftest import SF_DIR
from .oracle_utils import assert_matches_oracle, duck_connection


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    df = QUERIES[name](spark, sf_dir)
    assert_matches_oracle(df, duck, ORACLES[name])


def test_audit_removes_scratch_dir_and_pins_result(
    spark, sf_dir, tmp_path, monkeypatch
):
    """``@audit`` owns each lifecycle audit's scratch directory: it is
    gone once the audit returns, the returned frame still collects (it
    is pinned, not lazy over deleted files), and it is gone too when
    the audit body raises."""
    import tempfile

    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        SnapshotTable,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    create = SnapshotTable.create
    paths = []

    def spy(self, *args, **kwargs):
        paths.append(self.path)
        return create(self, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "create", spy)
    df = QUERIES["lakehouse_constraints_audit"](spark, sf_dir)
    assert paths and paths[0].startswith(
        str(tmp_path / "lakehouse_constraints_audit_")
    )
    assert list(tmp_path.iterdir()) == []
    assert len(df.collect()) > 0

    def boom(self, *args, **kwargs):
        paths.append(self.path)
        raise RuntimeError("create failed")

    monkeypatch.setattr(SnapshotTable, "create", boom)
    with pytest.raises(RuntimeError, match="create failed"):
        QUERIES["lakehouse_constraints_audit"](spark, sf_dir)
    assert paths[-1].startswith(str(tmp_path))
    assert list(tmp_path.iterdir()) == []


@pytest.mark.slow  # r16: 5.5 min; redundant with the per-query oracle
# differentials below (192/192 coverage, each asserting rows vs DuckDB)
def test_every_query_has_nonzero_result(spark, sf_dir):
    for name, fn in QUERIES.items():
        assert fn(spark, sf_dir).count() > 0, f"{name} returned no rows at sf0.001"


def test_approx_stats_tolerance(spark, sf_dir):
    """Pin raw sketch accuracy against exact aggregates (HLL++ rsd=1%;
    GK percentile accuracy=10k is effectively exact at test scale).
    The registered ``events_approx_stats`` query folds this check
    in-plan (all-ok flags vs a constant oracle); this test keeps the
    raw sketch VALUES pinned too, so a sketch drifting inside the
    query's wider envelope still gets caught here."""
    from pyspark.sql import functions as F

    from summit_23_snowpark_data_lake_workloads_spark.sources.batch import read_table

    ev = read_table(spark, sf_dir, "events")
    both = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.95)").alias("p95"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
            F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("p50_value"),
            F.percentile_approx("value", F.lit(0.95), F.lit(10000)).alias("p95_value"),
        )
        .collect()
    }
    assert both
    for et, r in both.items():
        assert abs(r.approx_users - r.users) <= max(3, 0.05 * r.users)
        assert abs(r.p50_value - r.p50) <= max(0.5, 0.05 * abs(r.p50))
        assert abs(r.p95_value - r.p95) <= max(0.5, 0.05 * abs(r.p95))
    flags = QUERIES["events_approx_stats"](spark, sf_dir).collect()
    assert flags and all(
        (f.hll_ok, f.p50_ok, f.p95_ok) == (1, 1, 1) for f in flags
    )
