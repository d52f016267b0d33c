"""Round-11 lakehouse features: merge-on-read UPDATEs via deletion
vectors (merge_mor), persisted change-data-feed mode (cdf=True /
enable_cdf: change rows survive pre-image vacuum), finer multi-writer
conflict granularity (disjoint DV deletes and partition-disjoint
overwrites commute; overlaps still abort), and the metadata
lost-update fix (a stale handle's data commit can no longer silently
erase a concurrent rename/constraint — ConcurrentWriteError +
refresh_metadata instead)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.operators.rollup import (
    refresh_rollup,
)
from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
    ConcurrentWriteError,
    SnapshotTable,
)

# Tests that call a row-level DML verb directly (merge_mor, update,
# delete_keys_mor, the DV-delete conflict cases) run in the default
# profile; the rollup, sidecar, vacuum, metadata-conflict and streaming
# tiers are marked slow (SPARK_GRAFT_SLOW=1).


def _df(spark, lo, hi, grp=0):
    # coalesce(2): multi-row files so partial updates exercise DVs
    return (
        spark.range(lo, hi)
        .coalesce(2)
        .select(
            F.col("id").cast("int").alias("id"),
            F.lit(grp).alias("grp"),
            (F.col("id") * 2).cast("double").alias("v"),
        )
    )


def _rows(t, **kw):
    return sorted(
        (r.id, r.grp, r.v) for r in t.read(**kw).collect()
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 20))
    return t


# --------------------------------------------------- merge-on-read UPDATE


def test_merge_mor_upserts_without_rewriting(spark, table):
    before_files = set(table.snapshot().files)
    src = _df(spark, 15, 25, grp=9)  # 15..19 update, 20..24 insert
    table.merge_mor(src, ["id"])
    snap = table.snapshot()
    # every pre-existing file survived (no COW rewrite); DVs carry the
    # old images of the 5 updated keys
    assert before_files <= set(snap.files)
    assert snap.dvs and sum(
        e - s for runs in snap.dvs.values() for s, e in runs
    ) == 5
    expect = [(i, 0, float(i * 2)) for i in range(15)] + [
        (i, 9, float(i * 2)) for i in range(15, 25)
    ]
    assert _rows(table) == sorted(expect)


def test_merge_mor_matches_cow_merge_result(spark, tmp_path):
    a = SnapshotTable(spark, str(tmp_path / "cow"))
    b = SnapshotTable(spark, str(tmp_path / "mor"))
    a.create(_df(spark, 0, 20))
    b.create(_df(spark, 0, 20))
    src = _df(spark, 10, 30, grp=7)
    a.merge(src, ["id"])
    b.merge_mor(src, ["id"])
    assert _rows(a) == _rows(b)
    # and the metadata row counts agree with the data
    assert b.row_count() == a.row_count() == 30


def test_merge_mor_time_travel_and_rollback(spark, table):
    table.merge_mor(_df(spark, 18, 22, grp=5), ["id"])
    assert _rows(table, version=1) == [
        (i, 0, float(i * 2)) for i in range(20)
    ]
    table.rollback(1)
    assert _rows(table) == [(i, 0, float(i * 2)) for i in range(20)]


def test_merge_mor_falls_back_to_cow_past_budget(spark, table):
    before_files = set(table.snapshot().files)
    table.merge_mor(_df(spark, 0, 20, grp=3), ["id"], max_updated_rows=5)
    snap = table.snapshot()
    # COW merge: matched files rewritten, no DVs
    assert snap.operation == "merge"
    assert not snap.dvs
    assert not (before_files & set(snap.files))
    assert _rows(table) == [(i, 3, float(i * 2)) for i in range(20)]


def test_merge_mor_fully_replaced_file_is_removed(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(spark.range(4).coalesce(1).select(F.col("id").cast("int").alias("id"), F.lit(0).alias("grp"), F.lit(1.0).alias("v")))
    old = set(t.snapshot().files)
    t.merge_mor(
        spark.range(4).select(F.col("id").cast("int").alias("id"), F.lit(1).alias("grp"), F.lit(2.0).alias("v")),
        ["id"],
    )
    snap = t.snapshot()
    # every live row of the single old file matched: file dropped, no DV
    assert not (old & set(snap.files)) and not snap.dvs
    assert _rows(t) == [(i, 1, 2.0) for i in range(4)]


def test_merge_mor_changes_emit_retraction_pairs(spark, table):
    table.merge_mor(_df(spark, 18, 22, grp=5), ["id"])
    chg = table.changes(1, 2)
    dels = sorted(
        r.id for r in chg.filter(F.col("_change_type") == "delete").collect()
    )
    ins = sorted(
        r.id for r in chg.filter(F.col("_change_type") == "insert").collect()
    )
    assert dels == [18, 19]  # old images of matched keys
    assert ins == [18, 19, 20, 21]  # every source row


@pytest.mark.slow
def test_merge_mor_feeds_rollup_incrementally(spark, tmp_path):
    fact = SnapshotTable(spark, str(tmp_path / "fact"))
    rollup = SnapshotTable(spark, str(tmp_path / "roll"))
    fact.create(_df(spark, 0, 20))
    prep = lambda df: df.select("grp", "v")
    assert refresh_rollup(fact, rollup, prep, ["grp"], ["v"]) == "full"
    fact.merge_mor(_df(spark, 10, 25, grp=4), ["id"])
    assert (
        refresh_rollup(fact, rollup, prep, ["grp"], ["v"])
        == "incremental_cdf"
    )
    expect = sorted(
        (r.grp, r.n_rows, r.sum_v)
        for r in prep(fact.read())
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("v").alias("sum_v"),
        )
        .collect()
    )
    got = sorted((r.grp, r.n_rows, r.sum_v) for r in rollup.read().collect())
    assert got == expect


# ----------------------------------------------------------- persisted CDF


def _change_state(chg):
    return sorted(
        (r._commit_version, r._change_type, r.id, r.v)
        for r in chg.select("_commit_version", "_change_type", "id", "v")
        .collect()
    )


@pytest.mark.slow
def test_persisted_cdf_survives_preimage_vacuum(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), cdf=True)
    t.create(_df(spark, 0, 12))
    t.delete(F.col("id") % 3 == 0)  # v2: COW — pre-image files die
    t.append(_df(spark, 12, 15, grp=1))  # v3
    before = _change_state(t.changes(1, 3))
    # retain v2..v3 only: v1's files (v2's pre-images) are swept
    swept = t.vacuum(retain_last=2, orphan_grace_ms=0)
    assert swept, "the COW pre-image files should expire"
    after = _change_state(t.changes(1, 3))
    assert after == before
    # sanity: without persisted CDF the same lifecycle raises
    u = SnapshotTable(spark, str(tmp_path / "u"))
    u.create(_df(spark, 0, 12))
    u.delete(F.col("id") % 3 == 0)
    u.append(_df(spark, 12, 15, grp=1))
    u.vacuum(retain_last=2, orphan_grace_ms=0)
    with pytest.raises(FileNotFoundError):
        u.changes(1, 3).collect()


@pytest.mark.slow
def test_persisted_cdf_equals_compute_on_read(spark, tmp_path):
    a = SnapshotTable(spark, str(tmp_path / "a"), cdf=True)
    b = SnapshotTable(spark, str(tmp_path / "b"))
    for t in (a, b):
        t.create(_df(spark, 0, 20))
        t.merge(_df(spark, 15, 25, grp=9), ["id"])
        t.delete_mor(F.col("id") % 7 == 0)
    assert _change_state(a.changes(1, 3)) == _change_state(b.changes(1, 3))
    # a's delete/merge commits actually carry sidecars
    assert a._raw(2).get("change_files") and a._raw(3).get("change_files")
    assert not b._raw(2).get("change_files")


@pytest.mark.slow
def test_enable_cdf_is_table_state_and_starts_at_enabling_version(
    spark, tmp_path
):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10))
    t.delete(F.col("id") == 0)  # v2: before enabling — no sidecar
    t.enable_cdf()  # v3
    t.delete(F.col("id") == 1)  # v4: persisted
    assert not t._raw(2).get("change_files")
    assert t._raw(4).get("change_files")
    # a fresh handle adopts the stored flag
    t2 = SnapshotTable(spark, t.path)
    assert t2.cdf is True
    t2.delete(F.col("id") == 2)
    assert t2._raw(5).get("change_files")
    with pytest.raises(ValueError):
        t2.enable_cdf()


@pytest.mark.slow
def test_persisted_cdf_rollup_stays_incremental_past_vacuum(
    spark, tmp_path
):
    fact = SnapshotTable(spark, str(tmp_path / "fact"), cdf=True)
    rollup = SnapshotTable(spark, str(tmp_path / "roll"))
    fact.create(_df(spark, 0, 20))
    prep = lambda df: df.select("grp", "v")
    refresh_rollup(fact, rollup, prep, ["grp"], ["v"])
    fact.delete(F.col("id") % 4 == 0)
    fact.vacuum(retain_last=1, orphan_grace_ms=0)  # pre-images gone
    assert (
        refresh_rollup(fact, rollup, prep, ["grp"], ["v"])
        == "incremental_cdf"
    )
    expect = sorted(
        (r.grp, r.n_rows, r.sum_v)
        for r in prep(fact.read())
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("v").alias("sum_v"),
        )
        .collect()
    )
    got = sorted((r.grp, r.n_rows, r.sum_v) for r in rollup.read().collect())
    assert got == expect


@pytest.mark.slow
def test_vacuum_sweeps_expired_cdf_sidecars_keeps_retained(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), cdf=True)
    t.create(_df(spark, 0, 12))
    t.delete(F.col("id") == 0)  # v2 sidecar
    t.delete(F.col("id") == 1)  # v3 sidecar
    t.append(_df(spark, 20, 22))  # v4
    t.append(_df(spark, 22, 24))  # v5
    cf_v2 = t._raw(2)["change_files"]
    cf_v3 = t._raw(3)["change_files"]
    t.vacuum(retain_last=3, orphan_grace_ms=0)  # keeps v3..v5
    assert all(
        not os.path.exists(os.path.join(t.path, f)) for f in cf_v2
    ), "expired sidecars are retention policy — swept"
    assert all(os.path.exists(os.path.join(t.path, f)) for f in cf_v3)
    assert _change_state(t.changes(3, 5))  # retained range still serves


@pytest.mark.slow
def test_unreferenced_cdf_sidecar_respects_orphan_grace(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), cdf=True)
    t.create(_df(spark, 0, 8))
    t.delete(F.col("id") == 0)
    # plant an in-flight-looking orphan sidecar (fresh mtime)
    orphan_dir = os.path.join(t.path, "_changes", "c-orphan")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-0.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"x")
    t.vacuum(retain_last=2, orphan_grace_ms=3_600_000)
    assert os.path.exists(orphan), "fresh orphan spared (maybe in-flight)"
    t.vacuum(retain_last=2, orphan_grace_ms=0)
    assert not os.path.exists(orphan), "expired orphan swept"


# ------------------------------------------------- conflict granularity


def _race_next_read(t, racer_op):
    """Run ``racer_op`` on a second handle right after ``t``'s next
    read, i.e. between the verb's snapshot and its commit."""
    racer = SnapshotTable(t.spark, t.path)
    orig_read = t.read

    def racy_read(*a, **kw):
        out = orig_read(*a, **kw)
        t.read = orig_read
        racer_op(racer)
        return out

    t.read = racy_read


def _two_file_table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    # two single-file batches: predicates touch disjoint files
    t.create(_df(spark, 0, 10).coalesce(1))
    t.append(_df(spark, 10, 20, grp=1).coalesce(1))
    return t


def test_disjoint_dv_deletes_both_land(spark, tmp_path):
    t = _two_file_table(spark, tmp_path)
    _race_next_read(t, lambda r: r.delete_mor(F.col("id") == 15))  # grp=1
    t.delete_mor(F.col("id") == 3)  # grp=0 file only — must REBASE
    assert sorted(r.id for r in t.read().collect()) == [
        i for i in range(20) if i not in (3, 15)
    ]


def test_merge_mor_racing_disjoint_dv_delete_aborts(spark, tmp_path):
    # the DV-delete commute rule must not widen to merge_mor: it adds
    # files, so even a racing delete_mor on ANOTHER file aborts it
    t = _two_file_table(spark, tmp_path)
    _race_next_read(t, lambda r: r.delete_mor(F.col("id") == 15))  # grp=1
    with pytest.raises(ConcurrentWriteError):
        t.merge_mor(_df(spark, 3, 4, grp=7), ["id"])  # grp=0 file only
    assert _rows(t) == [
        (i, 1 if i >= 10 else 0, i * 2.0) for i in range(20) if i != 15
    ]


def test_overlapping_dv_deletes_abort(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10).coalesce(1))  # ONE file: must conflict
    _race_next_read(t, lambda r: r.delete_mor(F.col("id") == 7))
    with pytest.raises(ConcurrentWriteError):
        t.delete_mor(F.col("id") == 3)
    # retry on fresh state succeeds
    t.delete_mor(F.col("id") == 3)
    assert sorted(r.id for r in t.read().collect()) == [
        i for i in range(10) if i not in (3, 7)
    ]


def test_dv_delete_racing_append_still_aborts(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10).coalesce(1))
    _race_next_read(t, lambda r: r.append(_df(spark, 10, 15, grp=1)))
    with pytest.raises(ConcurrentWriteError):
        t.delete_mor(F.col("id") == 3)
    assert t.read().count() == 15  # the append survived


def _day_df(spark, day, lo, hi):
    return spark.createDataFrame(
        [(i, dt.date(2024, 1, day), float(i)) for i in range(lo, hi)],
        "id int, d date, v double",
    )


@pytest.mark.slow
def test_partition_disjoint_overwrites_both_land(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), partition_by=["d"])
    t.create(
        _day_df(spark, 1, 0, 5)
        .unionAll(_day_df(spark, 2, 5, 10))
        .unionAll(_day_df(spark, 3, 10, 15))
    )
    racer = SnapshotTable(spark, t.path)
    orig = t._write_batch
    fired = {"done": False}

    def racy_write(df):
        if not fired["done"]:
            fired["done"] = True
            racer.overwrite_partitions(_day_df(spark, 2, 100, 103))
        return orig(df)

    t._write_batch = racy_write
    t.overwrite_partitions(_day_df(spark, 3, 200, 204))  # disjoint: rebase
    t._write_batch = orig
    got = sorted(r.id for r in t.read().collect())
    assert got == list(range(5)) + [100, 101, 102] + [200, 201, 202, 203]


@pytest.mark.slow
def test_same_partition_overwrites_abort(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), partition_by=["d"])
    t.create(_day_df(spark, 1, 0, 5).unionAll(_day_df(spark, 2, 5, 10)))
    racer = SnapshotTable(spark, t.path)
    orig = t._write_batch
    fired = {"done": False}

    def racy_write(df):
        if not fired["done"]:
            fired["done"] = True
            racer.overwrite_partitions(_day_df(spark, 2, 100, 103))
        return orig(df)

    t._write_batch = racy_write
    with pytest.raises(ConcurrentWriteError):
        t.overwrite_partitions(_day_df(spark, 2, 200, 204))
    t._write_batch = orig
    got = sorted(r.id for r in t.read().collect())
    assert got == list(range(5)) + [100, 101, 102]  # racer's backfill won


@pytest.mark.slow
def test_append_into_overwritten_partition_aborts(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), partition_by=["d"])
    t.create(_day_df(spark, 1, 0, 5).unionAll(_day_df(spark, 2, 5, 10)))
    racer = SnapshotTable(spark, t.path)
    orig = t._write_batch
    fired = {"done": False}

    def racy_write(df):
        if not fired["done"]:
            fired["done"] = True
            racer.append(_day_df(spark, 2, 100, 102))  # INTO my partition
        return orig(df)

    t._write_batch = racy_write
    with pytest.raises(ConcurrentWriteError):
        t.overwrite_partitions(_day_df(spark, 2, 200, 204))
    t._write_batch = orig
    assert 100 in {r.id for r in t.read().collect()}  # append survived


# ------------------------------------------------ metadata lost-update


@pytest.mark.slow
def test_stale_handle_append_cannot_erase_constraint(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10))
    stale = SnapshotTable(spark, t.path)  # opened before the constraint
    t.add_constraint("v_nonneg", "v >= 0")
    with pytest.raises(ConcurrentWriteError, match="metadata"):
        stale.append(_df(spark, 10, 15))
    stale.refresh_metadata()
    stale.append(_df(spark, 10, 15))  # now validated AND preserved
    assert SnapshotTable(spark, t.path).check_constraints == {
        "v_nonneg": "v >= 0"
    }


@pytest.mark.slow
def test_stale_handle_append_cannot_revert_rename(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10))
    stale = SnapshotTable(spark, t.path)
    t.rename_column("v", "amount")
    with pytest.raises(ConcurrentWriteError, match="metadata"):
        stale.append(_df(spark, 10, 15))
    stale.refresh_metadata()
    stale.append(
        _df(spark, 10, 15).withColumnRenamed("v", "amount")
    )
    assert "amount" in SnapshotTable(spark, t.path).read().columns


@pytest.mark.slow
def test_concurrent_metadata_commits_conflict(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10))
    other = SnapshotTable(spark, t.path)
    t.rename_column("v", "amount")
    with pytest.raises(ConcurrentWriteError):
        other.add_constraint("v_nonneg", "v >= 0")


@pytest.mark.slow
def test_metadata_ops_on_empty_table_raise_cleanly(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="no committed version"):
        t.add_constraint("c", "v >= 0")
    with pytest.raises(ValueError, match="no committed version"):
        t.rename_column("v", "x")
    with pytest.raises(ValueError, match="no committed version"):
        t.drop_column("v")
    with pytest.raises(ValueError, match="no committed version"):
        t.enable_cdf()


@pytest.mark.slow
def test_rename_guard_is_case_and_backtick_insensitive(spark, tmp_path):
    t = SnapshotTable(
        spark,
        str(tmp_path / "t"),
        check_constraints={"c1": "`v` >= 0", "c2": "GRP IS NOT NULL"},
    )
    t.create(_df(spark, 0, 5))
    with pytest.raises(ValueError, match="constraint"):
        t.rename_column("v", "x")  # backtick-quoted mention
    with pytest.raises(ValueError, match="constraint"):
        t.rename_column("grp", "g2")  # case-insensitive mention


# ------------------------------------------------------- row-level UPDATE


def test_update_cow_transforms_matched_rows_only(spark, table):
    old_files = set(table.snapshot().files)
    table.update(F.col("id") % 4 == 0, {"v": F.col("v") + 100.0})
    expect = [
        (i, 0, float(i * 2) + (100.0 if i % 4 == 0 else 0.0))
        for i in range(20)
    ]
    assert _rows(table) == sorted(expect)
    # COW: every touched file replaced, no DVs
    snap = table.snapshot()
    assert not snap.dvs and not (old_files & set(snap.files))


def test_update_set_exprs_see_old_values(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(
        spark.createDataFrame(
            [(1, 10.0, 20.0)], "id int, a double, b double"
        )
    )
    # the column swap: both SET expressions must read OLD values
    t.update(F.lit(True), {"a": F.col("b"), "b": F.col("a")})
    [r] = t.read().collect()
    assert (r.a, r.b) == (20.0, 10.0)


def test_update_mor_is_dv_plus_append(spark, table):
    old_files = set(table.snapshot().files)
    table.update(
        F.col("id") % 4 == 0, {"v": F.col("v") + 100.0}, strategy="mor"
    )
    snap = table.snapshot()
    assert snap.operation == "update_mor"
    assert old_files <= set(snap.files)  # nothing rewritten
    assert snap.dvs and sum(
        e - s for runs in snap.dvs.values() for s, e in runs
    ) == 5  # ids 0,4,8,12,16
    expect = [
        (i, 0, float(i * 2) + (100.0 if i % 4 == 0 else 0.0))
        for i in range(20)
    ]
    assert _rows(table) == sorted(expect)
    assert table.row_count() == 20  # metadata counts stay exact


def test_update_mor_falls_back_to_cow_past_budget(spark, table):
    table.update(
        F.lit(True), {"v": F.col("v") * 2}, strategy="mor",
        max_updated_rows=3,
    )
    snap = table.snapshot()
    assert snap.operation == "update" and not snap.dvs
    assert _rows(table) == [(i, 0, float(i * 4)) for i in range(20)]


def test_update_unknown_column_raises(spark, table):
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        SchemaMismatchError,
    )

    with pytest.raises(SchemaMismatchError, match="unknown column"):
        table.update(F.lit(True), {"nope": F.lit(1)})


def test_update_partition_source_migrates_partitions(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), partition_by=["d"])
    t.create(_day_df(spark, 1, 0, 4).unionAll(_day_df(spark, 2, 4, 8)))
    t.update(F.col("id") < 2, {"d": F.lit(dt.date(2024, 1, 3))})
    parts = {p["d"]: p["num_rows"] for p in t.partitions()}
    assert parts == {"2024-01-01": 2, "2024-01-02": 4, "2024-01-03": 2}


def test_update_feeds_cdf_and_rollup(spark, tmp_path):
    fact = SnapshotTable(spark, str(tmp_path / "fact"))
    rollup = SnapshotTable(spark, str(tmp_path / "roll"))
    fact.create(_df(spark, 0, 20))
    prep = lambda df: df.select("grp", "v")
    refresh_rollup(fact, rollup, prep, ["grp"], ["v"])
    fact.update(
        F.col("id") % 3 == 0, {"v": F.col("v") + 7.0}, strategy="mor"
    )
    chg = fact.changes(1, 2)
    dels = sorted(
        r.id for r in chg.filter(F.col("_change_type") == "delete").collect()
    )
    ins = sorted(
        (r.id, r.v)
        for r in chg.filter(F.col("_change_type") == "insert").collect()
    )
    assert dels == [i for i in range(20) if i % 3 == 0]
    assert ins == [
        (i, float(i * 2) + 7.0) for i in range(20) if i % 3 == 0
    ]
    assert (
        refresh_rollup(fact, rollup, prep, ["grp"], ["v"])
        == "incremental_cdf"
    )
    [row] = rollup.read().collect()
    want = sum(
        i * 2 + (7.0 if i % 3 == 0 else 0.0) for i in range(20)
    )
    assert (row.n_rows, row.sum_v) == (20, want)


@pytest.mark.slow
def test_scoped_compact_racing_append_both_land(spark, tmp_path):
    """Delta's OPTIMIZE rule: bin-packing a fixed set of small files
    commutes with a concurrent append (the whole-table replace-all
    pack still aborts — covered by test_lakehouse's race test)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 4).coalesce(1))
    for lo in (4, 8, 12):
        t.append(_df(spark, lo, lo + 4).coalesce(1))
    racer = SnapshotTable(spark, t.path)
    orig = t._write_batch
    fired = {"done": False}

    def racy_write(df):
        if not fired["done"]:
            fired["done"] = True
            racer.append(_df(spark, 100, 105, grp=1).coalesce(1))
        return orig(df)

    t._write_batch = racy_write
    t.compact(target_files=1, small_file_bytes=1 << 30)  # delta path
    t._write_batch = orig
    got = sorted(r.id for r in t.read().collect())
    assert got == list(range(16)) + list(range(100, 105))


@pytest.mark.slow
def test_streaming_merge_sink_mor_strategy(spark, tmp_path):
    from summit_23_snowpark_data_lake_workloads_spark.streaming.lakehouse_sink import (
        merge_stream_into_snapshot_table,
    )

    t = SnapshotTable(spark, str(tmp_path / "cdc"))
    t.create(_df(spark, 0, 10).coalesce(2))
    files_before = set(t.snapshot().files)
    src = tmp_path / "updates"
    src.mkdir()
    (src / "u1.json").write_text(
        '{"id": 3, "grp": 9, "v": 33.0}\n{"id": 20, "grp": 9, "v": 44.0}\n'
    )
    stream = spark.readStream.schema("id int, grp int, v double").json(
        str(src)
    )
    q = merge_stream_into_snapshot_table(
        stream, t, ["id"], "cdc-mor", str(tmp_path / "ck"), strategy="mor"
    )
    q.awaitTermination(120)
    assert t.snapshot().operation == "merge_mor"
    assert files_before <= set(t.snapshot().files)  # DVs, not rewrites
    got = {(r.id, r.grp, r.v) for r in t.read().collect()}
    assert (3, 9, 33.0) in got and (20, 9, 44.0) in got
    assert len(got) == 11


def test_update_casts_set_exprs_to_existing_type(spark, tmp_path):
    """SET expressions implicitly cast to the column's EXISTING type
    (Delta's UPDATE rule): a widening expression or a plain Python
    literal must not rewrite files under a new schema."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(
        spark.createDataFrame([(1, 10), (2, 20)], "id int, n int")
    )
    t.update(F.col("id") == 1, {"n": F.col("n") + 0.9})  # double expr
    t.update(F.col("id") == 2, {"n": 99})  # plain literal
    schema = {f.name: f.dataType.simpleString() for f in t.table_schema().fields}
    assert schema["n"] == "int"
    got = sorted((r.id, r.n) for r in t.read().collect())
    assert got == [(1, 10), (2, 99)]  # 10.9 cast back to int -> 10


@pytest.mark.slow
def test_compact_dv_fraction_purges_heavy_files_only(spark, tmp_path):
    """OPTIMIZE's heavily-deleted-file policy: dv_fraction selects
    files whose soft-deleted row share crosses the threshold — a
    mostly-dead file pays full scan cost for few live rows. Untouched
    and lightly-DV'd files carry over by reference; a SINGLE dv-heavy
    file is rewritten alone."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10).coalesce(1))        # file A: ids 0..9
    t.append(_df(spark, 10, 20, grp=1).coalesce(1))  # file B: ids 10..19
    t.delete_mor((F.col("id") < 8))                # A: 8/10 dead
    t.delete_mor(F.col("id") == 15)                # B: 1/10 dead
    before = set(t.snapshot().files)
    snap = t.compact(target_files=1, dv_fraction=0.5)
    after = set(snap.files)
    # file A rewritten (80% dead >= 50%), file B untouched (10%)
    assert len(before - after) == 1 and len(after - before) == 1
    kept = (before & after).pop()
    assert snap.dvs and set(snap.dvs) == {kept}  # B keeps its light DV
    assert sorted(r.id for r in t.read().collect()) == [8, 9] + [
        i for i in range(10, 20) if i != 15
    ]
    # below-threshold-only state: no-op, no empty commit
    v = t.snapshot().version
    t.compact(target_files=1, dv_fraction=0.5)
    assert t.snapshot().version == v


@pytest.mark.slow
def test_rollback_dv_delta_reports_only_newly_dead_rows(spark, tmp_path):
    """A rollback restores files WITH their vectors; its recorded dv
    delta must be relative to the PRIOR version, or changes()/
    file_changes would re-emit long-dead rows as fresh deletes."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10).coalesce(1))   # v1
    t.delete_mor(F.col("id") == 3)            # v2: DV {3}
    t.delete_mor(F.col("id") == 5)            # v3: DVs {3,5}
    t.rollback(2)                             # v4: back to DV {3}
    # v4 relative to v3: nothing newly dead (row 5 RESURRECTED —
    # consumers treat rollback as replace-all and full-recompute)
    (v, op, added, removed, dvd) = t.file_changes(3, 4)[0]
    assert op == "rollback" and not added and not removed and not dvd
    assert sorted(r.id for r in t.read().collect()) == [
        i for i in range(10) if i != 3
    ]
    # and a rollback that ADDS dead rows relative to prior reports them
    t.rollback(3)                             # v5: DVs {3,5} again
    (_v, op, added, removed, dvd) = t.file_changes(4, 5)[0]
    assert op == "rollback" and dvd and sum(
        e - s for runs in dvd.values() for s, e in runs
    ) == 1  # row 5 newly dead vs v4


@pytest.mark.slow
def test_threaded_disjoint_dv_deletes_all_land(spark, tmp_path):
    """REAL concurrency (not a staged interleave): four threads fire
    delete_mor at four disjoint single-file batches simultaneously.
    Publish races make losers retry; the commute check must rebase
    every retry (disjoint files) so ALL deletes land, exactly once."""
    import threading

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10).coalesce(1))
    for lo in (10, 20, 30):
        t.append(_df(spark, lo, lo + 10, grp=lo // 10).coalesce(1))
    errs = []

    def deleter(target):
        try:
            # each handle owns its own snapshot resolution
            SnapshotTable(spark, t.path).delete_mor(F.col("id") == target)
        except Exception as e:  # pragma: no cover
            errs.append((target, repr(e)))

    threads = [
        threading.Thread(target=deleter, args=(x,)) for x in (3, 13, 23, 33)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    assert sorted(r.id for r in t.read().collect()) == [
        i for i in range(40) if i not in (3, 13, 23, 33)
    ]
    assert t.row_count() == 36  # metadata counts agree


@pytest.mark.slow
def test_stale_handle_append_cannot_revert_spec_evolution(spark, tmp_path):
    """The metadata divergence check covers the partition spec too: a
    stale handle's append after a concurrent evolve_partition_spec
    would otherwise write files laid out under the OLD spec and
    persist the old spec back into the manifest."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(
        spark.createDataFrame(
            [(i, dt.date(2024, 1, 1 + i % 3), float(i)) for i in range(9)],
            "id int, d date, v double",
        )
    )
    stale = SnapshotTable(spark, t.path)
    t.evolve_partition_spec(["d"])
    with pytest.raises(ConcurrentWriteError, match="metadata"):
        stale.append(
            spark.createDataFrame(
                [(9, dt.date(2024, 1, 9), 9.0)], "id int, d date, v double"
            )
        )
    stale.refresh_metadata()
    assert stale.partition_by == ["d"]
    stale.append(
        spark.createDataFrame(
            [(9, dt.date(2024, 1, 9), 9.0)], "id int, d date, v double"
        )
    )
    assert SnapshotTable(spark, t.path).partition_by == ["d"]
    assert t.read().count() == 10


@pytest.mark.slow
def test_stale_handle_append_cannot_disable_cdf(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10))
    stale = SnapshotTable(spark, t.path)
    t.enable_cdf()
    with pytest.raises(ConcurrentWriteError, match="metadata"):
        stale.append(_df(spark, 10, 12))
    stale.refresh_metadata()
    assert stale.cdf is True
    stale.delete(F.col("id") == 0)  # persisted through the refreshed handle
    assert stale._raw(stale.snapshot().version).get("change_files")


# --------------------------------------------------- key-set MoR deletes


def test_delete_keys_mor_matches_cow_twin(spark, tmp_path):
    a = SnapshotTable(spark, str(tmp_path / "cow"))
    b = SnapshotTable(spark, str(tmp_path / "mor"))
    keys = spark.createDataFrame([(3,), (7,), (99,)], "id int")
    for t in (a, b):
        t.create(_df(spark, 0, 20))
    a.delete_keys(keys, ["id"])
    before = set(b.snapshot().files)
    b.delete_keys_mor(keys, ["id"])
    assert _rows(a) == _rows(b)
    assert before <= set(b.snapshot().files)  # vectors, not rewrites
    assert b.row_count() == 18
    # absent-key deletes are a no-op commit
    b.delete_keys_mor(spark.createDataFrame([(500,)], "id int"), ["id"])
    assert b.read().count() == 18


def test_delete_keys_mor_falls_back_to_cow_past_budget(spark, table):
    keys = spark.range(0, 15).select(F.col("id").cast("int").alias("id"))
    table.delete_keys_mor(keys, ["id"], max_deleted_rows=5)
    snap = table.snapshot()
    assert snap.operation == "delete" and not snap.dvs  # COW path took it
    assert sorted(r.id for r in table.read().collect()) == list(range(15, 20))


@pytest.mark.slow
def test_cdc_replication_mor_strategy(spark, tmp_path):
    from summit_23_snowpark_data_lake_workloads_spark.operators.cdc import (
        replicate_changes,
    )

    src = SnapshotTable(spark, str(tmp_path / "src"))
    dst = SnapshotTable(spark, str(tmp_path / "dst"))
    src.create(_df(spark, 0, 20))
    assert replicate_changes(src, dst, ["id"], strategy="mor") == "full"
    src.delete(F.col("id") % 5 == 0)
    src.merge(_df(spark, 15, 25, grp=6), ["id"])
    files_before = set(dst.snapshot().files)
    assert (
        replicate_changes(src, dst, ["id"], strategy="mor") == "incremental"
    )
    # the replica applied deletes as vectors and upserts as DV+append
    assert files_before <= set(dst.snapshot().files)
    assert dst.snapshot().dvs
    rows = lambda t: sorted((r.id, r.grp, r.v) for r in t.read().collect())
    assert rows(dst) == rows(src)


@pytest.mark.slow
def test_streaming_mor_sink_maintenance_purges_vectors(spark, tmp_path):
    """The MoR sink's compaction cadence: with compact_every set, the
    maintenance pass purges accumulated vectors (dv_fraction) so a
    long-running CDC stream doesn't decay into mostly-dead files."""
    from summit_23_snowpark_data_lake_workloads_spark.streaming.lakehouse_sink import (
        merge_stream_into_snapshot_table,
    )

    t = SnapshotTable(spark, str(tmp_path / "cdc"))
    t.create(_df(spark, 0, 8).coalesce(1))
    src = tmp_path / "updates"
    src.mkdir()
    # one json file => one micro-batch updating most of the table
    (src / "u1.json").write_text(
        "\n".join(
            f'{{"id": {i}, "grp": 9, "v": {float(i)}}}' for i in range(6)
        )
    )
    stream = spark.readStream.schema("id int, grp int, v double").json(
        str(src)
    )
    q = merge_stream_into_snapshot_table(
        stream,
        t,
        ["id"],
        "cdc-maint",
        str(tmp_path / "ck"),
        strategy="mor",
        compact_every=1,
    )
    q.awaitTermination(120)
    snap = t.snapshot()
    assert snap.operation == "compact" and not snap.dvs  # purged
    got = sorted((r.id, r.grp) for r in t.read().collect())
    assert got == [(i, 9 if i < 6 else 0) for i in range(8)]


def test_merge_mor_and_changes_compose_with_rename(spark, tmp_path):
    """Column mapping x MoR upsert x change feed: after a rename, the
    source arrives in LOGICAL names, files keep physical names, and
    the feed (including pre-rename commits) presents the CURRENT
    logical view."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_df(spark, 0, 10))
    t.delete(F.col("id") == 0)  # v2: pre-rename change commit
    t.rename_column("v", "amount")  # v3
    t.merge_mor(
        _df(spark, 8, 12, grp=5).withColumnRenamed("v", "amount"), ["id"]
    )  # v4
    assert sorted(
        (r.id, r.amount) for r in t.read().select("id", "amount").collect()
    ) == [(i, float(i * 2)) for i in range(1, 12)]
    chg = t.changes(1, 4)
    assert "amount" in chg.columns and "v" not in chg.columns
    v2_dels = chg.filter(
        (F.col("_commit_version") == 2) & (F.col("_change_type") == "delete")
    )
    assert [r.id for r in v2_dels.collect()] == [0]
    v4_ins = sorted(
        r.id
        for r in chg.filter(
            (F.col("_commit_version") == 4)
            & (F.col("_change_type") == "insert")
        ).collect()
    )
    assert v4_ins == [8, 9, 10, 11]


@pytest.mark.slow
def test_persisted_sidecars_survive_later_rename(spark, tmp_path):
    """Sidecars store PHYSICAL names: a rename AFTER the sidecar was
    written must not strand it — the feed translates through the
    current column map like any data file."""
    t = SnapshotTable(spark, str(tmp_path / "t"), cdf=True)
    t.create(_df(spark, 0, 10))
    t.delete(F.col("id") % 3 == 0)  # v2: sidecar written pre-rename
    t.rename_column("v", "amount")  # v3
    t.append(_df(spark, 10, 12).withColumnRenamed("v", "amount"))  # v4
    t.vacuum(retain_last=3, orphan_grace_ms=0)  # v2 pre-images die
    chg = t.changes(1, 2)  # served from the sidecar, post-rename
    assert "amount" in chg.columns and "v" not in chg.columns
    assert sorted(r.id for r in chg.collect()) == [0, 3, 6, 9]


# ------------------------------------------------------------ ops surfaces


@pytest.mark.slow
def test_vacuum_dry_run_changes_nothing(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), cdf=True)
    t.create(_df(spark, 0, 12))
    t.delete(F.col("id") % 3 == 0)
    t.append(_df(spark, 12, 15, grp=1))
    before_manifests = sorted(os.listdir(os.path.join(t.path, "_manifests")))
    would = t.vacuum(retain_last=2, orphan_grace_ms=0, dry_run=True)
    assert would, "the COW pre-images would expire"
    # nothing moved: every candidate still on disk, manifests untouched,
    # every version still readable
    assert all(os.path.exists(os.path.join(t.path, f)) for f in would)
    assert (
        sorted(os.listdir(os.path.join(t.path, "_manifests")))
        == before_manifests
    )
    assert t.read(version=1).count() == 12
    # the real vacuum then deletes exactly the predicted set
    assert sorted(t.vacuum(retain_last=2, orphan_grace_ms=0)) == sorted(would)


@pytest.mark.slow
def test_describe_detail(spark, tmp_path):
    t = SnapshotTable(
        spark,
        str(tmp_path / "t"),
        check_constraints={"v_nonneg": "v >= 0"},
        cdf=True,
    )
    t.create(_df(spark, 0, 20))
    t.delete_mor(F.col("id") % 4 == 0)
    t.rename_column("grp", "segment")
    d = t.describe_detail()
    assert d["version"] == 3 and d["operation"] == "rename_column"
    assert d["num_files"] >= 1 and d["size_bytes"] > 0
    assert d["num_rows"] == 15
    assert d["check_constraints"] == {"v_nonneg": "v >= 0"}
    assert d["column_map"] == {"segment": "grp"}
    assert d["cdf"] is True
    assert d["dv_files"] >= 1 and d["dv_rows"] == 5
