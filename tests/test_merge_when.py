"""Conditional MERGE (sources/lakehouse.py::merge_when): the full
MERGE INTO clause set — WHEN MATCHED [AND cond] THEN UPDATE SET /
DELETE, WHEN NOT MATCHED THEN INSERT — at :meth:`merge`'s COW file
granularity, with NULL conditions meaning "clause not satisfied"
(the SQL rule), update winning over delete, and the change feed's
four-way labels composing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
    SnapshotTable,
)

# The clause, mor and budget tests run in the default profile; the
# composition (DVs/labels, constraints, rename, partitions), streaming
# and sidecar tests are marked slow (SPARK_GRAFT_SLOW=1). Those stay
# default-covered by the gated audit queries' oracle differentials
# (lakehouse_txn_medallion/streaming_txn_chain/dv_merge/cdc audits in
# test_queries_oracle.py).


def _target(spark, tmp_path, name="t"):
    t = SnapshotTable(spark, str(tmp_path / name))
    t.create(
        spark.createDataFrame(
            [(i, float(i), "old") for i in range(6)],
            "id int, qty double, tag string",
        ).coalesce(1)
    )
    return t


def _src(spark, rows):
    return spark.createDataFrame(rows, "id int, qty double, tag string")


def _state(t):
    return {(r.id, r.qty, r.tag) for r in t.read().collect()}


def test_update_all_plus_insert_equals_plain_merge(spark, tmp_path):
    t = _target(spark, tmp_path)
    src = _src(spark, [(2, 20.0, "new"), (9, 90.0, "new")])
    t.merge_when(src, ["id"], matched_update="all")
    assert _state(t) == {
        (i, float(i), "old") for i in (0, 1, 3, 4, 5)
    } | {(2, 20.0, "new"), (9, 90.0, "new")}


def test_additive_update_clause_sees_both_sides(spark, tmp_path):
    t = _target(spark, tmp_path)
    src = _src(spark, [(3, 100.0, "x")])
    t.merge_when(
        src,
        ["id"],
        matched_update={"qty": F.col("t.qty") + F.col("s.qty")},
        insert_unmatched=False,
    )
    got = {r.id: (r.qty, r.tag) for r in t.read().collect()}
    assert got[3] == (103.0, "old")  # qty folded, tag untouched
    assert got[2] == (2.0, "old")


def test_conditional_update_nonqualifying_matches_carry(spark, tmp_path):
    t = _target(spark, tmp_path)
    src = _src(spark, [(1, 0.5, "low"), (4, 44.0, "hi")])
    t.merge_when(
        src,
        ["id"],
        matched_update="all",
        matched_update_cond=F.col("s.qty") > F.col("t.qty"),
    )
    got = {r.id: (r.qty, r.tag) for r in t.read().collect()}
    assert got[4] == (44.0, "hi")     # source larger: updated
    assert got[1] == (1.0, "old")     # source smaller: carried


def test_delete_clause_and_update_wins_over_delete(spark, tmp_path):
    t = _target(spark, tmp_path)
    src = _src(spark, [(0, -1.0, "d"), (5, 55.0, "u")])
    t.merge_when(
        src,
        ["id"],
        matched_update="all",
        matched_update_cond=F.col("s.qty") > 0,
        matched_delete_cond=F.col("s.qty") < 0,
        insert_unmatched=False,
    )
    got = {r.id: r.qty for r in t.read().collect()}
    assert 0 not in got               # delete clause fired
    assert got[5] == 55.0             # update clause won
    assert set(got) == {1, 2, 3, 4, 5}


def test_null_condition_means_not_satisfied(spark, tmp_path):
    t = _target(spark, tmp_path)
    src = spark.createDataFrame(
        [(2, None, "n")], "id int, qty double, tag string"
    )
    t.merge_when(
        src,
        ["id"],
        matched_delete_cond=F.col("s.qty") < 0,  # NULL: must NOT delete
        insert_unmatched=False,
    )
    got = {r.id: r.qty for r in t.read().collect()}
    assert got[2] == 2.0  # carried, not dropped


def test_untouched_files_survive_rewrite(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "g"))
    t.create(
        spark.createDataFrame(
            [(i, float(i)) for i in range(4)], "id int, v double"
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10, 14)], "id int, v double"
        ).coalesce(1)
    )
    before = set(t.snapshot().files)
    t.merge_when(
        _s := spark.createDataFrame([(1, -1.0)], "id int, v double"),
        ["id"],
        matched_update="all",
        insert_unmatched=False,
    )
    after = set(t.snapshot().files)
    # the second file holds no matched key: byte-identical survivor
    assert len(before & after) == 1
    assert {r.v for r in t.read().filter(F.col("id") == 1).collect()} == {-1.0}


def test_insert_only_and_update_only_forms(spark, tmp_path):
    t = _target(spark, tmp_path)
    # insert-only: matched keys carry unchanged
    t.merge_when(
        _src(spark, [(2, 99.0, "x"), (7, 7.0, "ins")]), ["id"]
    )
    got = {r.id: (r.qty, r.tag) for r in t.read().collect()}
    assert got[2] == (2.0, "old") and got[7] == (7.0, "ins")
    with pytest.raises(ValueError):
        t.merge_when(
            _src(spark, []), ["id"], insert_unmatched=False
        )


@pytest.mark.slow
def test_merge_when_composes_with_dvs_and_labels(spark, tmp_path):
    """Soft-deleted rows cannot re-match, and the commit's labeled
    feed splits the conditional update into preimage/postimage pairs
    while the true insert stays an insert."""
    t = _target(spark, tmp_path)
    t.delete_mor(F.col("id") == 3)
    v0 = t.snapshot().version
    src = _src(spark, [(3, 33.0, "z"), (4, 44.0, "u"), (8, 8.0, "i")])
    t.merge_when(src, ["id"], matched_update="all")
    got = {r.id: r.qty for r in t.read().collect()}
    # id=3 was dead: it re-enters as a fresh INSERT (not an update)
    assert got[3] == 33.0 and got[4] == 44.0 and got[8] == 8.0
    chg = t.changes(v0, v0 + 1, update_labels=True)
    by_label = {
        (r.id, r._change_type) for r in chg.select("id", "_change_type").collect()
    }
    assert (4, "update_preimage") in by_label
    assert (4, "update_postimage") in by_label
    assert (8, "insert") in by_label
    assert (3, "insert") in by_label  # dead key: true insert, no pair


def test_merge_when_mor_strategy(spark, tmp_path):
    """Conditional clauses through deletion vectors: affected rows
    (updated or deleted) become DV positions, updated images + true
    inserts land as new files, carried rows never move - every
    pre-existing file survives the commit."""
    t = _target(spark, tmp_path)
    before = set(t.snapshot().files)
    src = _src(spark, [(0, -1.0, "d"), (5, 55.0, "u"), (9, 9.0, "i")])
    snap = t.merge_when(
        src,
        ["id"],
        matched_update="all",
        matched_update_cond=F.col("s.qty") > 0,
        matched_delete_cond=F.col("s.qty") < 0,
        strategy="mor",
    )
    assert snap.operation == "merge_mor"
    assert before <= set(t.snapshot().files)  # no rewrite of old files
    assert snap.dvs  # the affected positions became vectors
    got = {r.id: (r.qty, r.tag) for r in t.read().collect()}
    assert 0 not in got                      # delete clause fired
    assert got[5] == (55.0, "u")             # update clause won
    assert got[9] == (9.0, "i")              # true insert
    assert got[2] == (2.0, "old")            # carried, not moved
    # metadata row count subtracts the vectors exactly
    assert t.row_count() == len(got)


def test_merge_when_mor_budget_falls_back_to_cow(spark, tmp_path):
    t = _target(spark, tmp_path)
    src = _src(spark, [(i, 100.0 + i, "u") for i in range(6)])
    snap = t.merge_when(
        src, ["id"], matched_update="all", strategy="mor",
        max_updated_rows=2,
    )
    assert snap.operation == "merge"  # COW took it
    assert not (t.snapshot().dvs or {})
    assert {r.qty for r in t.read().collect()} == {100.0 + i for i in range(6)}


@pytest.mark.slow
def test_merge_when_respects_check_constraints(spark, tmp_path):
    """The conditional rewrite goes through the same one-aggregate
    write-side enforcement as every other path: a clause that would
    land a violating row rejects the WHOLE commit, version unmoved."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        ConstraintViolationError,
    )

    t = _target(spark, tmp_path)
    t.add_constraint("qty_nonneg", "qty >= 0")
    v0 = t.snapshot().version
    with pytest.raises(ConstraintViolationError):
        t.merge_when(
            _src(spark, [(2, -5.0, "bad")]), ["id"], matched_update="all"
        )
    assert t.snapshot().version == v0
    assert _state(t) == {(i, float(i), "old") for i in range(6)}


@pytest.mark.slow
def test_merge_when_after_rename(spark, tmp_path):
    """Column mapping composes: clauses and SET expressions speak the
    LOGICAL names, the commit's merge_keys record physical ones, and
    the labeled feed still splits update pairs."""
    t = _target(spark, tmp_path)
    t.rename_column("qty", "amount")
    v0 = t.snapshot().version
    src = spark.createDataFrame(
        [(1, 11.0, "u"), (9, 9.0, "i")], "id int, amount double, tag string"
    )
    t.merge_when(
        src,
        ["id"],
        matched_update={"amount": F.col("t.amount") + F.col("s.amount")},
    )
    got = {r.id: r.amount for r in t.read().collect()}
    assert got[1] == 12.0 and got[9] == 9.0
    chg = t.changes(v0, v0 + 1, update_labels=True)
    labels = {(r.id, r._change_type) for r in chg.select("id", "_change_type").collect()}
    assert (1, "update_postimage") in labels and (9, "insert") in labels


@pytest.mark.slow
def test_merge_when_update_migrates_partitions(spark, tmp_path):
    """An update clause that changes a partition-source value must
    migrate the row: the rewrite re-derives partition tuples, and
    pruned reads find the row in its NEW partition only."""
    t = SnapshotTable(spark, str(tmp_path / "p"), partition_by=["day"])
    t.create(
        spark.createDataFrame(
            [(i, "d1" if i < 3 else "d2", float(i)) for i in range(6)],
            "id int, day string, v double",
        ).repartition(2)
    )
    t.merge_when(
        spark.createDataFrame([(1, "d9", 100.0)], "id int, day string, v double"),
        ["id"],
        matched_update="all",
        insert_unmatched=False,
    )
    moved = t.read(partition_where=[("day", "=", "d9")]).filter(
        F.col("day") == "d9"
    )
    assert [(r.id, r.v) for r in moved.collect()] == [(1, 100.0)]
    old = t.read(partition_where=[("day", "=", "d1")]).filter(
        F.col("day") == "d1"
    )
    assert sorted(r.id for r in old.collect()) == [0, 2]


def test_insert_cond_tombstone_guard(spark, tmp_path):
    """WHEN NOT MATCHED AND cond THEN INSERT: a CDC delete event for a
    key the target never had must insert NOTHING."""
    t = _target(spark, tmp_path)
    src = spark.createDataFrame(
        [(2, 0.0, "del"), (9, 9.0, "del"), (8, 8.0, "live")],
        "id int, qty double, tag string",
    )
    t.merge_when(
        src,
        ["id"],
        matched_delete_cond=F.col("s.tag") == "del",
        insert_cond=F.col("s.tag") != "del",
    )
    got = {r.id for r in t.read().collect()}
    assert 2 not in got          # matched tombstone: deleted
    assert 9 not in got          # unmatched tombstone: NOT inserted
    assert 8 in got              # live unmatched: inserted
    assert got == {0, 1, 3, 4, 5, 8}


@pytest.mark.slow
def test_streaming_debezium_apply(spark, tmp_path):
    """The one-sink CDC apply: a stream of upserts AND tombstones,
    matched_delete_cond + insert_cond routing each micro-batch through
    merge_when under MoR - exactly-once via the txn stamp (a second
    drain of the same checkpoint commits nothing)."""
    from summit_23_snowpark_data_lake_workloads_spark.streaming.lakehouse_sink import (
        merge_stream_into_snapshot_table,
    )

    t = SnapshotTable(spark, str(tmp_path / "cdc"))
    t.create(
        spark.createDataFrame(
            [(i, float(i), False) for i in range(6)],
            "id int, v double, deleted boolean",
        ).coalesce(1)
    )
    src = tmp_path / "events"
    src.mkdir()
    (src / "b1.json").write_text(
        '{"id": 1, "v": 11.0, "deleted": false}\n'   # update
        '{"id": 3, "v": 0.0, "deleted": true}\n'     # tombstone (matched)
        '{"id": 9, "v": 9.0, "deleted": false}\n'    # insert
        '{"id": 77, "v": 0.0, "deleted": true}\n'    # tombstone (unmatched)
    )

    def run():
        stream = spark.readStream.schema(
            "id int, v double, deleted boolean"
        ).json(str(src))
        q = merge_stream_into_snapshot_table(
            stream,
            t,
            ["id"],
            "dbz",
            str(tmp_path / "ck"),
            strategy="mor",
            matched_update="all",
            matched_update_cond=~F.col("s.deleted"),
            matched_delete_cond=F.col("s.deleted"),
            insert_cond=~F.col("s.deleted"),
        )
        q.awaitTermination(120)

    run()
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {0: 0.0, 1: 11.0, 2: 2.0, 4: 4.0, 5: 5.0, 9: 9.0}
    assert t.snapshot().operation == "merge_mor"
    # replay with a FRESH checkpoint: txn stamps make it a no-op
    import shutil

    shutil.rmtree(tmp_path / "ck")
    v = t.snapshot().version
    run()
    assert t.snapshot().version == v


@pytest.mark.slow
def test_merge_when_persisted_cdf_survives_preimage_vacuum(spark, tmp_path):
    """cdf=True: the conditional merge's retraction rows persist as
    sidecars at commit time, so the feed still answers after the
    pre-image files are vacuumed away — the same survival contract as
    every other row-removing verb."""
    t = SnapshotTable(spark, str(tmp_path / "t"), cdf=True)
    t.create(
        spark.createDataFrame(
            [(i, float(i), "old") for i in range(6)],
            "id int, qty double, tag string",
        ).coalesce(1)
    )                                                   # v1
    t.merge_when(
        _src(spark, [(1, 11.0, "u"), (2, -1.0, "d")]),
        ["id"],
        matched_update="all",
        matched_update_cond=F.col("s.qty") > 0,
        matched_delete_cond=F.col("s.qty") < 0,
        insert_unmatched=False,
    )                                                   # v2 (COW rewrite)
    t.append(
        spark.createDataFrame([(50, 5.0, "a")], "id int, qty double, tag string")
    )                                                   # v3
    t.append(
        spark.createDataFrame([(51, 5.0, "a")], "id int, qty double, tag string")
    )                                                   # v4
    # keep the v2 manifest (feed retention = manifest retention) but
    # sweep v1's files — the COW rewrite's pre-images
    t.vacuum(retain_last=3, orphan_grace_ms=0)
    chg = t.changes(1, 2)
    dels = {r.id for r in chg.filter(F.col("_change_type") == "delete").collect()}
    ins = {r.id for r in chg.filter(F.col("_change_type") == "insert").collect()}
    assert 2 in dels            # the delete clause's retraction
    assert 1 in dels and 1 in ins  # the update's retraction pair
