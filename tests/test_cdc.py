"""CDC apply (operators/cdc.py): a downstream replica kept
row-identical to an upstream table by consuming its change feed —
net-effect per key, key-scoped delete+merge application, honest full
resync on replace-all/vacuumed ranges, idempotent syncs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.operators.cdc import (
    net_changes,
    replicate_changes,
)
from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
    SnapshotTable,
)


def _df(spark, lo, hi, grp=0):
    return spark.range(lo, hi).select(
        F.col("id").cast("int").alias("id"),
        F.lit(grp).alias("grp"),
        (F.col("id") * 2).cast("double").alias("v"),
    )


def _state(t):
    return sorted((r.id, r.grp, r.v) for r in t.read().collect())


@pytest.fixture()
def pair(spark, tmp_path):
    src = SnapshotTable(spark, str(tmp_path / "src"))
    dst = SnapshotTable(spark, str(tmp_path / "dst"))
    src.create(_df(spark, 0, 10))
    return src, dst


def test_first_sync_is_full_then_noop(spark, pair):
    src, dst = pair
    assert replicate_changes(src, dst, ["id"]) == "full"
    assert _state(dst) == _state(src)
    assert replicate_changes(src, dst, ["id"]) == "noop"


def test_incremental_sync_applies_insert_update_delete(spark, pair):
    src, dst = pair
    replicate_changes(src, dst, ["id"])
    src.append(_df(spark, 10, 13, grp=1))
    src.merge(
        spark.createDataFrame([(5, 9, 99.0)], "id int, grp int, v double"),
        ["id"],
    )
    src.delete(F.col("id") % 4 == 0)
    assert replicate_changes(src, dst, ["id"]) == "incremental"
    assert _state(dst) == _state(src)


def test_net_effect_insert_then_delete_applies_nothing(spark, pair):
    """A key inserted and deleted INSIDE the sync range must net out —
    the replica never sees it, and the delete of a never-replicated key
    is a no-op."""
    src, dst = pair
    replicate_changes(src, dst, ["id"])
    src.append(_df(spark, 50, 55, grp=7))
    src.delete(F.col("id") >= 50)
    assert replicate_changes(src, dst, ["id"]) == "incremental"
    assert _state(dst) == _state(src)
    assert all(r.id < 50 for r in dst.read().collect())


def test_net_effect_delete_then_reinsert_keeps_last_image(spark, pair):
    src, dst = pair
    replicate_changes(src, dst, ["id"])
    src.delete(F.col("id") == 3)
    src.append(
        spark.createDataFrame([(3, 9, -1.0)], "id int, grp int, v double")
    )
    assert replicate_changes(src, dst, ["id"]) == "incremental"
    assert _state(dst) == _state(src)
    assert [(r.grp, r.v) for r in dst.read().filter("id = 3").collect()] == [
        (9, -1.0)
    ]


def test_replace_all_in_range_forces_full_resync(spark, pair):
    src, dst = pair
    replicate_changes(src, dst, ["id"])
    src.overwrite(_df(spark, 100, 105, grp=2))
    assert replicate_changes(src, dst, ["id"]) == "full"
    assert _state(dst) == _state(src)


def test_vacuumed_range_forces_full_resync(spark, pair):
    src, dst = pair
    replicate_changes(src, dst, ["id"])
    for i in range(3):
        src.append(_df(spark, 20 + i, 21 + i))
    src.vacuum(retain_last=1)
    assert replicate_changes(src, dst, ["id"]) == "full"
    assert _state(dst) == _state(src)


def test_layout_only_range_is_metadata_sync(spark, pair):
    src, dst = pair
    replicate_changes(src, dst, ["id"])
    src.compact(target_files=1)
    files_before = set(dst.snapshot().files)
    assert replicate_changes(src, dst, ["id"]) == "incremental"
    assert set(dst.snapshot().files) == files_before  # no data rewritten
    assert replicate_changes(src, dst, ["id"]) == "noop"


def test_delete_keys_rewrites_only_touched_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "dk"))
    t.create(_df(spark, 0, 10, grp=0))
    t.append(_df(spark, 10, 20, grp=1))
    before = set(t.snapshot().files)
    keys = spark.createDataFrame([(3,), (7,)], "id int")
    t.delete_keys(keys, ["id"])
    after = t.snapshot()
    assert sorted(r.id for r in t.read().collect()) == [
        i for i in range(20) if i not in (3, 7)
    ]
    # the second batch (ids 10..19) holds no matched key: carried over
    assert before & set(after.files)


def _three_file_table(spark, path):
    """The 3-file, 30-row table (ids 0..29, one file per 10 ids) the
    job-count pins below share."""
    t = SnapshotTable(spark, path)
    files = [
        spark.range(lo, lo + 10, numPartitions=1).select(
            F.col("id").cast("int").alias("id"),
            (F.col("id") * 2).cast("double").alias("v"),
        )
        for lo in (0, 10, 20)
    ]
    t.create(files[0])
    for f in files[1:]:
        t.append(f)
    assert len(t.snapshot().files) == 3
    return t


def _jobs(spark, name, fn):
    """Spark jobs ``fn()`` launches, counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(name))


def test_delete_keys_job_count(spark, tmp_path):
    """A 2-key ``delete_keys`` on the 3-file table: 14 jobs with a
    shuffled survivor anti-join, 10 with the broadcast hint, 5 once
    scans are planned from the recorded schemas and the emptiness probe
    is gone. Its 2 jobs over ``delete`` are the key frame's two
    broadcast builds (the locate semi-join and the survivor anti-join)."""
    t = _three_file_table(spark, str(tmp_path / "dk"))
    keys = spark.createDataFrame([(3,), (17,)], "id int")
    n = _jobs(spark, "delete_keys_job_count", lambda: t.delete_keys(keys, ["id"]))
    assert n <= 5
    assert sorted(r.id for r in t.read().collect()) == [
        i for i in range(30) if i not in (3, 17)
    ]


def test_dml_job_counts(spark, tmp_path):
    """Sibling pins on the same table. No scan runs a schema-inference
    job (the schema is folded from the manifest), and no write runs its
    plan twice to probe emptiness: ``read()`` plans with no job at all,
    ``append`` is its one write job, ``delete`` locates (2) and writes
    (1). ``merge_when(strategy="mor")`` launched 24 jobs before (26 at
    32 cores); it launches 12 at 3 or 4 cores and 14 at 32."""
    t = _three_file_table(spark, str(tmp_path / "t"))
    assert _jobs(spark, "read_job_count", t.read) == 0
    one = spark.range(1).select(
        F.lit(50).alias("id"), F.lit(1.0).alias("v")
    )
    assert _jobs(spark, "append_job_count", lambda: t.append(one)) == 1
    t = _three_file_table(spark, str(tmp_path / "d"))
    pred = F.col("id").isin(3, 17)
    assert _jobs(spark, "delete_job_count", lambda: t.delete(pred)) <= 3
    assert t.read().count() == 28
    t = _three_file_table(spark, str(tmp_path / "m"))
    src = spark.createDataFrame(
        [(3, 1.0), (17, 2.0), (99, 3.0)], "id int, v double"
    )
    n = _jobs(
        spark,
        "merge_when_mor_job_count",
        lambda: t.merge_when(src, ["id"], matched_update="all", strategy="mor"),
    )
    assert n <= 14
    got = {r.id: r.v for r in t.read().collect()}
    assert len(got) == 31 and got[3] == 1.0 and got[17] == 2.0 and got[99] == 3.0


def test_wide_read_plans_without_a_listing_job(spark, tmp_path):
    """A read over more than 32 files (Spark's default parallel-listing
    threshold, raised by ``get_spark``) still plans with no job."""
    t = SnapshotTable(spark, str(tmp_path / "wide"))
    t.create(spark.range(0, 400, numPartitions=40).select(F.col("id").cast("int")))
    assert len(t.snapshot().files) == 40
    assert _jobs(spark, "wide_read_job_count", t.read) == 0
    assert t.read().count() == 400


def test_net_changes_priority_insert_beats_delete_same_version(spark):
    chg = spark.createDataFrame(
        [
            (1, "x", "delete", 2),
            (1, "y", "insert", 2),  # same commit: MERGE pair, post wins
            (2, "z", "delete", 3),  # later commit: delete wins
        ],
        "id int, val string, _change_type string, _commit_version long",
    )
    ups, dels = net_changes(chg, ["id"])
    assert [(r.id, r.val) for r in ups.collect()] == [(1, "y")]
    assert [r.id for r in dels.collect()] == [2]


def test_net_changes_handles_four_way_labels(spark):
    """update_postimage is an upsert image, update_preimage a
    retraction — the four-way ``changes(update_labels=True)`` feed
    nets identically to its two-way form."""
    chg = spark.createDataFrame(
        [
            (1, "old", "update_preimage", 2),
            (1, "new", "update_postimage", 2),
            (2, "born", "insert", 2),
            (3, "gone", "delete", 3),
        ],
        "id int, val string, _change_type string, _commit_version long",
    )
    ups, dels = net_changes(chg, ["id"])
    assert sorted((r.id, r.val) for r in ups.collect()) == [
        (1, "new"),
        (2, "born"),
    ]
    assert [r.id for r in dels.collect()] == [3]


def test_net_changes_routed_classification(spark):
    """fresh = upsert images with NO retraction in range; an updated,
    merge-matched, or deleted-then-reinserted key stays on the
    delete+merge path."""
    from summit_23_snowpark_data_lake_workloads_spark.operators.cdc import (
        net_changes_routed,
    )

    chg = spark.createDataFrame(
        [
            (1, "a1", "insert", 2),          # plain append -> fresh
            (2, "b0", "delete", 2),          # MERGE matched pair ->
            (2, "b1", "insert", 2),          #   retracted, not fresh
            (3, "c1", "insert", 2),          # merge's TRUE insert -> fresh
            (4, "d0", "delete", 3),          # deleted then reinserted ->
            (4, "d1", "insert", 4),          #   retracted, not fresh
            (5, "e0", "delete", 3),          # net delete
        ],
        "id int, val string, _change_type string, _commit_version long",
    )
    fresh, ups, dels = net_changes_routed(chg, ["id"])
    assert sorted((r.id, r.val) for r in fresh.collect()) == [
        (1, "a1"),
        (3, "c1"),
    ]
    assert sorted((r.id, r.val) for r in ups.collect()) == [
        (2, "b1"),
        (4, "d1"),
    ]
    assert [r.id for r in dels.collect()] == [5]


def test_insert_only_sync_lands_as_single_append(spark, pair):
    """The churn-skip: an append-only source range applies as ONE
    plain append commit on the replica — no merge, no key probe."""
    src, dst = pair
    replicate_changes(src, dst, ["id"])
    v0 = dst.snapshot().version
    src.append(_df(spark, 20, 25, grp=3))
    src.append(_df(spark, 25, 30, grp=4))
    assert replicate_changes(src, dst, ["id"]) == "incremental"
    assert dst.snapshot().version == v0 + 1
    assert dst._raw(v0 + 1)["operation"] == "append"
    assert _state(dst) == _state(src)
    assert replicate_changes(src, dst, ["id"]) == "noop"  # stamp rode it


def test_route_inserts_off_goes_through_merge(spark, pair):
    src, dst = pair
    replicate_changes(src, dst, ["id"])
    v0 = dst.snapshot().version
    src.append(_df(spark, 40, 42, grp=5))
    replicate_changes(src, dst, ["id"], route_inserts=False)
    assert dst._raw(dst.snapshot().version)["operation"] == "merge"
    assert _state(dst) == _state(src)
    assert dst.snapshot().version == v0 + 1


def test_routed_mixed_batch_state_and_stamp(spark, pair):
    """Mixed range (delete + update + fresh insert): delete and merge
    apply unstamped, the append carries the stamp — the replayable
    order of operators.cdc._apply_netted."""
    src, dst = pair
    replicate_changes(src, dst, ["id"])
    src.delete(F.col("id") == 0)
    src.merge(
        spark.createDataFrame([(5, 9, 99.0)], "id int, grp int, v double"),
        ["id"],
    )
    src.append(_df(spark, 70, 72, grp=6))
    assert replicate_changes(src, dst, ["id"]) == "incremental"
    assert _state(dst) == _state(src)
    head = dst.snapshot().version
    assert dst._raw(head)["operation"] == "append"
    assert dst._raw(head)["txn"]["batch_id"] == src.snapshot().version
    assert dst._raw(head - 1)["operation"] == "merge"
    assert dst._raw(head - 1).get("txn") is None
    assert replicate_changes(src, dst, ["id"]) == "noop"


def test_replica_follows_upstream_schema_evolution(spark, pair):
    """An upstream schema-evolving append mid-range must flow through
    the sync: the replica mirrors upstream by contract, so the apply
    steps evolve rather than reject. Old replica rows surface NULLs in
    the new column, exactly like upstream's old files."""
    src, dst = pair
    replicate_changes(src, dst, ["id"])
    src.append(
        spark.createDataFrame(
            [(50, 0, 50.0, "tagged")], "id int, grp int, v double, tag string"
        ),
        schema_evolution=True,
    )
    src.merge(
        spark.createDataFrame(
            [(5, 9, 99.0, "upd")], "id int, grp int, v double, tag string"
        ),
        ["id"],
        schema_evolution=True,
    )
    assert replicate_changes(src, dst, ["id"]) == "incremental"
    got = {
        (r.id, r.tag)
        for r in dst.read().select("id", "tag").collect()
    }
    want = {
        (r.id, r.tag)
        for r in src.read().select("id", "tag").collect()
    }
    assert got == want
    assert (50, "tagged") in got and (5, "upd") in got
    assert replicate_changes(src, dst, ["id"]) == "noop"


def test_replica_resyncs_on_upstream_drop_or_rename(spark, pair):
    """Upstream DROP/RENAME are metadata-only commits - no change rows
    ever reach the replica, so row-level apply would serve the stale
    column forever. The sync must detect the drift and full-resync
    under upstream's current logical view."""
    src, dst = pair
    replicate_changes(src, dst, ["id"])
    src.rename_column("v", "val")
    src.append(
        spark.createDataFrame([(77, 0, -7.0)], "id int, grp int, val double")
    )
    assert replicate_changes(src, dst, ["id"]) == "full"
    assert sorted(dst.read().columns) == sorted(src.read().columns)
    assert {(r.id, r.val) for r in dst.read().collect()} == {
        (r.id, r.val) for r in src.read().collect()
    }
    # converged: the next sync is incremental again
    src.append(
        spark.createDataFrame([(78, 0, -8.0)], "id int, grp int, val double")
    )
    assert replicate_changes(src, dst, ["id"]) == "incremental"
    src.drop_column("grp")
    src.append(
        spark.createDataFrame([(79, -9.0)], "id int, val double")
    )
    assert replicate_changes(src, dst, ["id"]) == "full"
    assert "grp" not in dst.read().columns
    assert replicate_changes(src, dst, ["id"]) == "noop"


def test_replica_stream_resyncs_on_upstream_rename(spark, tmp_path):
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        SnapshotTable,
    )
    from summit_23_snowpark_data_lake_workloads_spark.streaming.cdf_source import (
        maintain_replica_stream,
    )

    src = SnapshotTable(spark, str(tmp_path / "s"))
    dst = SnapshotTable(spark, str(tmp_path / "d"))
    src.create(_df(spark, 0, 6))
    ck = str(tmp_path / "ck")
    maintain_replica_stream(src, dst, ["id"], ck)
    src.rename_column("v", "val")
    src.append(
        spark.createDataFrame([(50, 1, -5.0)], "id int, grp int, val double")
    )
    maintain_replica_stream(src, dst, ["id"], ck)
    assert sorted(dst.read().columns) == sorted(src.read().columns)
    assert {(r.id, r.val) for r in dst.read().collect()} == {
        (r.id, r.val) for r in src.read().collect()
    }
    # replays are still no-ops after the inline resync
    import shutil

    shutil.rmtree(ck)
    v = dst.snapshot().version
    maintain_replica_stream(src, dst, ["id"], ck)
    assert dst.snapshot().version == v


def test_replica_resyncs_on_drop_readd_inside_one_range(spark, pair):
    """drop + readd of the SAME name inside one sync range leaves the
    schemas equal while the data diverges (replica: old values;
    upstream: fresh-identity NULLs) - only the commit-op check can see
    it, and the sync must take the full resync."""
    src, dst = pair
    replicate_changes(src, dst, ["id"])
    src.drop_column("v")
    src.readd_column("v")
    src.append(
        spark.createDataFrame([(60, 0, 600.0)], "id int, grp int, v double"),
        schema_evolution=True,  # first data under the fresh identity
    )
    assert replicate_changes(src, dst, ["id"]) == "full"
    got = {(r.id, r.v) for r in dst.read().collect()}
    want = {(r.id, r.v) for r in src.read().collect()}
    assert got == want
    assert (60, 600.0) in got
    # pre-readd rows must read NULL on the replica too, not old values
    assert all(v is None for i, v in got if i < 10)
