"""Snapshot-table (lakehouse) semantics: time travel, row-level
DELETE/MERGE with file-level copy-on-write, rollback, compaction,
vacuum retention, concurrent-commit atomicity, schema evolution.

The scale-critical assertions are the COW ones: a DELETE/MERGE that
touches one file must carry every other file over by reference (same
path in the next manifest), never rewrite them — that is what bounds an
upsert at 100 TB to the touched partition.
"""

import json
import os
import threading

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import SnapshotTable


@pytest.fixture()
def table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.create(spark.range(0, 100).select("id", (F.col("id") % 5).alias("grp")))
    return t


def _rows(df):
    return sorted((r.id, r.grp) for r in df.collect())


def test_create_append_read_latest(spark, table):
    table.append(spark.range(100, 120).select("id", (F.col("id") % 5).alias("grp")))
    assert table.read().count() == 120
    assert [s.operation for s in table.history()] == ["create", "append"]


def test_time_travel_by_version_and_timestamp(spark, table):
    v1 = table.snapshot()
    table.append(spark.range(100, 150).select("id", (F.col("id") % 5).alias("grp")))
    assert table.read(version=v1.version).count() == 100
    assert table.read().count() == 150
    # timestamp travel: at v1's commit time the table had 100 rows
    assert table.read(as_of_ms=v1.timestamp_ms).count() == 100


def test_delete_rewrites_only_touched_files(spark, table):
    # append a second batch => two independent file sets
    table.append(spark.range(1000, 1100).select("id", (F.col("id") % 5).alias("grp")))
    before = table.snapshot()
    # rows 1000+ live only in batch-2 files; delete touches only those
    table.delete(F.col("id") >= 1050)
    after = table.snapshot()
    batch1 = {f for f in before.files if f in set(after.files)}
    assert batch1, "untouched files must carry over by reference"
    assert table.read().count() == 150
    assert table.read().filter(F.col("id") >= 1050).count() == 0
    # the carried-over files are exactly the ones with no matching rows
    survivors_from_b1 = table.read(version=before.version).filter(
        F.col("id") < 1000
    )
    assert survivors_from_b1.count() == 100


def test_delete_no_match_is_metadata_only(spark, table):
    before = table.snapshot()
    table.delete(F.col("id") > 10_000)
    after = table.snapshot()
    assert after.files == before.files
    assert after.operation == "delete"


def test_merge_upsert_semantics(spark, table):
    src = spark.createDataFrame(
        [Row(id=5, grp=99), Row(id=7, grp=99), Row(id=500, grp=99)]
    )
    table.merge(src, ["id"])
    got = table.read()
    assert got.count() == 101  # 100 - 2 replaced + 2 replacements + 1 new
    assert _rows(got.filter(F.col("grp") == 99)) == [(5, 99), (7, 99), (500, 99)]
    assert got.filter((F.col("id") == 5) & (F.col("grp") != 99)).count() == 0


def test_merge_preserves_untouched_files(spark, table):
    table.append(spark.range(1000, 1100).select("id", (F.col("id") % 5).alias("grp")))
    before = table.snapshot()
    # keys only hit the second batch
    table.merge(
        spark.createDataFrame([Row(id=1000, grp=42)]), ["id"]
    )
    after = table.snapshot()
    assert {f for f in before.files if f in set(after.files)}, (
        "files without matched keys must survive by reference"
    )
    assert table.read().filter(F.col("id") == 1000).collect()[0].grp == 42


def test_rollback_is_a_new_commit(spark, table):
    v1 = table.snapshot().version
    table.delete(F.col("id") < 50)
    assert table.read().count() == 50
    table.rollback(v1)
    assert table.read().count() == 100
    ops = [s.operation for s in table.history()]
    assert ops == ["create", "delete", "rollback"]  # history never rewritten


def test_compact_preserves_rows(spark, table):
    table.append(spark.range(100, 200).select("id", (F.col("id") % 5).alias("grp")))
    rows_before = _rows(table.read())
    table.compact(target_files=2)
    assert _rows(table.read()) == rows_before
    assert len(table.snapshot().files) <= 2


def test_vacuum_retention(spark, table):
    v1 = table.snapshot().version
    table.overwrite(spark.range(0, 10).select("id", (F.col("id") % 5).alias("grp")))
    table.overwrite(spark.range(0, 20).select("id", (F.col("id") % 5).alias("grp")))
    removed = table.vacuum(retain_last=2)
    assert removed, "v1's files are unreferenced by the retained versions"
    # latest + previous still readable; v1 is gone
    assert table.read().count() == 20
    assert table.read(version=table.snapshot().version - 1).count() == 10
    with pytest.raises(LookupError):
        table.read(version=v1)


def test_concurrent_commits_both_land(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "race"))
    t.create(spark.range(10).select("id", F.lit(0).alias("grp")))
    errs = []

    def appender(lo):
        try:
            t.append(spark.range(lo, lo + 5).select("id", F.lit(1).alias("grp")))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=appender, args=(100 * i,)) for i in (1, 2, 3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    # all three appends serialized into distinct versions, none lost
    assert t.read().count() == 25
    assert [s.version for s in t.history()] == [1, 2, 3, 4]


def test_conflicting_commit_on_stale_base_raises(spark, table):
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        ConcurrentWriteError,
    )

    stale = table.snapshot().version
    table.append(spark.range(100, 110).select("id", (F.col("id") % 5).alias("grp")))
    # a remove-carrying commit (delete/merge) based on the stale version
    # must abort, not silently drop the concurrent append
    with pytest.raises(ConcurrentWriteError):
        table._commit(
            "delete", stale, [], remove=frozenset(table.snapshot(stale).files)
        )


def test_schema_evolution_append_new_column(spark, table):
    # r8: evolution is an explicit opt-in (Delta's write-side contract)
    table.append(
        spark.range(200, 210).select(
            "id", (F.col("id") % 5).alias("grp"), F.lit("en").alias("lang")
        ),
        schema_evolution=True,
    )
    got = table.read()
    assert "lang" in got.columns
    # old files surface NULL for the added column
    assert got.filter(F.col("id") < 100).filter(F.col("lang").isNull()).count() == 100
    assert got.filter(F.col("lang") == "en").count() == 10


def test_crash_before_manifest_publishes_nothing(spark, table):
    """Orphan data files (a writer that died pre-commit) are invisible to
    readers and collected by vacuum ONCE OLD — a fresh unreferenced
    file is indistinguishable from an IN-FLIGHT commit's pre-publish
    batch, and deleting it would corrupt that commit the moment its
    manifest lands (Delta's orphan-retention rule)."""
    import time as _time

    orphan_dir = os.path.join(table.path, "data", "b-orphan")
    spark.range(5).write.parquet(orphan_dir)
    assert table.read().count() == 100  # reader sees only committed files
    # fresh: spared by the grace (maybe in-flight)
    removed = table.vacuum(retain_last=1)
    assert not any("b-orphan" in f for f in removed)
    # old: a genuine crash leftover — swept
    old = _time.time() - 7200
    for root, _d, names in os.walk(orphan_dir):
        for f in names:
            os.utime(os.path.join(root, f), (old, old))
    removed = table.vacuum(retain_last=1)
    assert any("b-orphan" in f for f in removed)


def test_vacuum_spares_in_flight_commit(spark, table):
    """The race the grace exists for, played out: a writer stages its
    batch (files on disk, manifest not yet published), vacuum runs,
    then the commit publishes — and must be fully readable."""
    files = table._write_batch(
        spark.range(500, 510).select("id", (F.col("id") % 5).alias("grp"))
    )
    base = table.snapshot().version
    table.vacuum(retain_last=1)  # must NOT eat the staged batch
    snap = table._commit("append", base, files)
    assert table.read(version=snap.version).count() == 110
    # expired-referenced files still vacuum regardless of age: delete
    # then vacuum — the pre-delete version's rewritten files go young
    table.delete(F.col("id") == 0)
    removed = table.vacuum(retain_last=1)
    assert removed  # the COW-replaced young files were swept


def test_data_skipping_prunes_files(spark, tmp_path):
    """Manifest [min,max] stats must prune non-matching files before the
    scan is even planned — range-clustered writes give disjoint id
    ranges per file, so a selective predicate reads a strict subset."""
    t = SnapshotTable(spark, str(tmp_path / "skip"))
    t.create(
        spark.range(0, 1000)
        .select("id", (F.col("id") % 5).alias("grp"))
        .repartitionByRange(4, "id")
    )
    full = t.read()
    pruned = t.read(skip_where=[("id", ">=", 900)])
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    got = sorted(r.id for r in pruned.filter(F.col("id") >= 900).collect())
    assert got == list(range(900, 1000))


def test_data_skipping_string_and_miss(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "skipstr"))
    t.create(
        spark.createDataFrame(
            [Row(id=i, name=f"name{i:03d}") for i in range(100)]
        ).repartitionByRange(4, "name")
    )
    pruned = t.read(skip_where=[("name", "=", "name095")])
    assert len(pruned.inputFiles()) == 1
    # a predicate no file can satisfy returns an empty frame, right schema
    none = t.read(skip_where=[("id", ">", 10_000)])
    assert none.count() == 0 and set(none.columns) == {"id", "name"}


def test_data_skipping_keeps_files_with_nan(spark, tmp_path):
    """parquet-mr records a NaN max for a double column holding NaN;
    Spark orders NaN above every number, so a range skip must keep
    such a file and return the rows the filter returns."""
    t = SnapshotTable(spark, str(tmp_path / "nan"))
    t.create(
        spark.createDataFrame(
            [(i, float("nan") if i == 3 else float(i)) for i in range(6)],
            "id long, d double",
        )
    )
    t.compact(target_files=1)  # a Spark-written (parquet-mr) file
    [f] = t.snapshot().files
    assert os.path.exists(os.path.join(t.path, os.path.dirname(f), "_SUCCESS"))
    _lo, hi = t.snapshot().stats[f]["d"]
    assert hi != hi  # the NaN bound this test is about
    for op, v in ((">", 10.0), (">=", 10.0), ("<", 1.0), ("=", 2.0)):
        ids = lambda df: sorted(r.id for r in df.filter(f"d {op} {v}").collect())
        assert ids(t.read(skip_where=[("d", op, v)])) == ids(t.read()), op


def test_stats_carry_over_cow(spark, table):
    """A COW delete must keep the carried-over files' stats (no silent
    loss of the skipping index on untouched data)."""
    table.append(
        spark.range(1000, 1100).select("id", (F.col("id") % 5).alias("grp"))
    )
    table.delete(F.col("id") >= 1050)
    snap = table.snapshot()
    assert snap.stats and set(snap.stats) == set(snap.files)
    assert all("id" in s for s in snap.stats.values())


def test_manifest_is_valid_json_listing(table):
    snap = table.snapshot()
    with open(
        os.path.join(table.path, "_manifests", f"v{snap.version:010d}.json")
    ) as fh:
        m = json.load(fh)
    assert m["files"] == snap.files
    assert all(f.startswith("data/") and f.endswith(".parquet") for f in m["files"])


def test_streaming_sink_exactly_once(spark, tmp_path):
    """foreachBatch -> SnapshotTable: a drained file stream lands every
    row exactly once; a replayed batch_id (checkpoint restart semantics)
    is a no-op; late files drain into a SECOND txn-stamped commit."""
    from summit_23_snowpark_data_lake_workloads_spark.streaming.lakehouse_sink import (
        write_stream_to_snapshot_table,
    )
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        SnapshotTable,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("\n".join(f"row{i}" for i in range(10)) + "\n")
    t = SnapshotTable(spark, str(tmp_path / "lake"))
    stream = spark.readStream.format("text").load(str(src))
    ckpt = str(tmp_path / "ckpt")

    q = write_stream_to_snapshot_table(stream, t, "ingest-app", ckpt)
    q.awaitTermination(120)
    assert t.read().count() == 10
    assert t.snapshot().txn == {"app_id": "ingest-app", "batch_id": 0}

    # replay of batch 0 (what a restart does for the last batch): no-op
    batch0 = spark.read.format("text").load(str(src))
    t.append(batch0, txn={"app_id": "ingest-app", "batch_id": 0})
    assert t.read().count() == 10

    # late data -> next batch appends exactly once, same checkpoint
    (src / "b.txt").write_text("\n".join(f"late{i}" for i in range(5)) + "\n")
    q2 = write_stream_to_snapshot_table(stream, t, "ingest-app", ckpt)
    q2.awaitTermination(120)
    assert t.read().count() == 15
    assert t.last_committed_batch("ingest-app") == 1


def test_zorder_skips_on_both_dimensions(spark, tmp_path):
    """After Z-order clustering on (x, y), a selective range predicate
    on EITHER column must prune files via manifest stats — the property
    a 1-D sort cannot give (its second column's ranges span everything).
    """
    t = SnapshotTable(spark, str(tmp_path / "z"))
    grid = (
        spark.range(10_000)
        .select(
            (F.col("id") % 100).alias("x"),
            (F.col("id") / 100).cast("long").alias("y"),
        )
    )
    t.create(grid)
    t.cluster_zorder(["x", "y"], n_files=16)
    total = len(t.snapshot().files)
    assert total >= 8
    for col in ("x", "y"):
        pruned = t.read(skip_where=[(col, ">=", 90)])
        n = len(pruned.inputFiles())
        assert n < total, f"{col}-predicate must prune z-ordered files"
        assert pruned.filter(F.col(col) >= 90).count() == 1000
    # contrast: 1-D clustering on x gives y NO pruning power
    t2 = SnapshotTable(spark, str(tmp_path / "oned"))
    t2.create(grid)
    t2.cluster_zorder(["x"], n_files=16)
    y_pruned = len(t2.read(skip_where=[("y", ">=", 90)]).inputFiles())
    z_pruned = len(t.read(skip_where=[("y", ">=", 90)]).inputFiles())
    assert z_pruned < y_pruned, "z-order must beat 1-D sort on the 2nd dim"


def test_compact_preserves_zorder_skipping(spark, tmp_path):
    """Order-preserving compaction (coalesce bin-packing) must keep the
    clustering's data-skipping power — a hash repartition here would
    silently destroy the z-order investment."""
    t = SnapshotTable(spark, str(tmp_path / "zc"))
    t.create(
        spark.range(10_000).select(
            (F.col("id") % 100).alias("x"),
            (F.col("id") / 100).cast("long").alias("y"),
        )
    )
    t.cluster_zorder(["x", "y"], n_files=16)
    t.compact(target_files=8, preserve_order=True)
    total = len(t.snapshot().files)
    assert total <= 8
    pruned = len(t.read(skip_where=[("x", ">=", 90)]).inputFiles())
    assert pruned < total, "skipping must survive order-preserving compaction"
    assert t.read().count() == 10_000


def test_streaming_merge_sink_upserts(spark, tmp_path):
    """CDC-style streaming MERGE: per-batch upsert by key, idempotent
    across batch replays."""
    from summit_23_snowpark_data_lake_workloads_spark.streaming.lakehouse_sink import (
        merge_stream_into_snapshot_table,
    )

    t = SnapshotTable(spark, str(tmp_path / "cdc"))
    t.create(
        spark.createDataFrame(
            [Row(k=1, v="old1"), Row(k=2, v="old2"), Row(k=3, v="old3")]
        )
    )
    src = tmp_path / "updates"
    src.mkdir()
    (src / "u1.json").write_text(
        '{"k": 2, "v": "new2"}\n{"k": 9, "v": "new9"}\n'
    )
    stream = (
        spark.readStream.schema("k long, v string").json(str(src))
    )
    q = merge_stream_into_snapshot_table(
        stream, t, ["k"], "cdc-app", str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {(1, "old1"), (2, "new2"), (3, "old3"), (9, "new9")}
    # replayed batch is a no-op
    t.merge(
        spark.createDataFrame([Row(k=2, v="evil")]),
        ["k"],
        txn={"app_id": "cdc-app", "batch_id": 0},
    )
    assert {(r.k, r.v) for r in t.read().collect()} == {
        (1, "old1"), (2, "new2"), (3, "old3"), (9, "new9")
    }


def test_bloom_index_prunes_point_lookups(spark, tmp_path):
    """Range stats can't prune '=' on a high-cardinality UNSORTED column
    (every file spans ~the full range); the per-file bloom index must.
    """
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        SnapshotTable as ST,
    )

    t = ST(spark, str(tmp_path / "bloom"), bloom_cols=["uid"])
    # hash-scrambled ids: each of 8 files spans nearly the full range,
    # so [min,max] stats are useless for equality
    t.create(
        spark.range(20_000)
        .select(F.xxhash64("id").alias("uid"), F.col("id").alias("payload"))
        .repartition(8)
    )
    target = t.read().limit(1).collect()[0].uid
    total = len(t.snapshot().files)
    pruned = t.read(skip_where=[("uid", "=", int(target))])
    assert len(pruned.inputFiles()) < total, "bloom must prune sibling files"
    assert pruned.filter(F.col("uid") == target).count() >= 1
    # absent key: bloom proves absence everywhere (modulo ~1% FP/file)
    ghost = t.read(skip_where=[("uid", "=", 123456789)])
    assert len(ghost.inputFiles() if ghost.count() else []) <= 1


def test_bloom_survives_cow_carry_over(spark, tmp_path):
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        SnapshotTable as ST,
    )

    t = ST(spark, str(tmp_path / "bloomcow"), bloom_cols=["uid"])
    t.create(spark.range(100).select(F.xxhash64("id").alias("uid")))
    t.append(spark.range(100, 200).select(F.xxhash64("id").alias("uid")))
    t.delete(F.col("uid") % 2 == 0)
    snap = t.snapshot()
    assert snap.blooms and set(snap.blooms) == set(snap.files)


def test_bloom_sized_by_distinct_values(tmp_path):
    """Each file's bloom keeps ~1% false positives whatever its distinct
    count (files written by pyarrow, so Spark's layout plays no part),
    and a file of <= 850 distinct values keeps the fixed 1 KiB bloom."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        _bloom_may_contain,
        _file_bloom,
    )

    small, large = list(range(100)), list(range(100_000, 110_000))
    blooms = {}
    for name, vals in (("small", small), ("large", large)):
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"k": vals}), path)
        blooms[name] = _file_bloom(path, ["k"])["k"]

    # no false negative for any present value
    assert all(_bloom_may_contain(blooms["small"], v) for v in small)
    assert all(_bloom_may_contain(blooms["large"], v) for v in large)

    # the fixed 1 KiB rule: 8192 bits, k = 4 md5-salted hashes
    old = bytearray(1024)
    for v in small:
        for salt in range(4):
            h = hashlib.md5(f"{salt}:{v!r}".encode()).digest()
            h = int.from_bytes(h[:8], "big") % 8192
            old[h >> 3] |= 1 << (h & 7)
    assert len(blooms["small"]) == 2048
    assert blooms["small"] == old.hex()

    # design rate 1.33%; 2.5% is ~4.5 binomial sd above it at 2,000 probes
    absent = range(-2000, 0)
    fp = sum(_bloom_may_contain(blooms["large"], v) for v in absent)
    assert fp / len(absent) <= 0.025


# ---------------------------------------------------------------------------
# Commit-protocol seam (VERDICT r2 #9): the manifest publish step is only
# atomic given a one-winner primitive. POSIX O_EXCL supplies it locally;
# object stores need conditional PUT or an external lock. These tests pin
# the seam's contract and DEMONSTRATE the lost-update anomaly a bare
# PUT/rename protocol produces — the reason the seam exists.
# ---------------------------------------------------------------------------


def test_posix_protocol_one_winner(tmp_path):
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        PosixCommit,
    )

    p = str(tmp_path / "v1.json")
    assert PosixCommit().publish(p, "winner") is True
    assert PosixCommit().publish(p, "loser") is False
    assert open(p).read() == "winner"


def test_overwriting_protocol_loses_update(tmp_path):
    """Bare PUT / non-atomic rename: both racers are told they won and
    the second silently clobbers the first — the lost-update anomaly."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        OverwritingCommit,
    )

    p = str(tmp_path / "v1.json")
    proto = OverwritingCommit()
    assert proto.publish(p, "first") is True
    assert proto.publish(p, "second") is True  # should have been False
    assert open(p).read() == "second"  # first writer's commit is gone


def test_locked_commit_restores_one_winner(tmp_path):
    """Wrapping the unsafe store in a mutex (the DynamoDB-lock shape)
    restores the one-winner property without changing the store."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        LockedCommit,
        OverwritingCommit,
    )

    p = str(tmp_path / "v1.json")
    proto = LockedCommit(threading.Lock(), OverwritingCommit())
    assert proto.publish(p, "winner") is True
    assert proto.publish(p, "loser") is False
    assert open(p).read() == "winner"


def test_concurrent_appends_safe_under_locked_commit(spark, tmp_path):
    """End-to-end: racing appends through the locked protocol over the
    unsafe store serialize into distinct versions, none lost — same
    guarantee the POSIX default gives (test_concurrent_commits_both_land)."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        LockedCommit,
        OverwritingCommit,
    )

    t = SnapshotTable(
        spark,
        str(tmp_path / "s3ish"),
        commit_protocol=LockedCommit(threading.Lock(), OverwritingCommit()),
    )
    t.create(spark.range(10).select("id", F.lit(0).alias("grp")))
    errs = []

    def appender(lo):
        try:
            t.append(spark.range(lo, lo + 5).select("id", F.lit(1).alias("grp")))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=appender, args=(100 * i,)) for i in (1, 2, 3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert t.read().count() == 25
    assert [s.version for s in t.history()] == [1, 2, 3, 4]


def test_unsafe_protocol_loses_a_table_version(spark, tmp_path):
    """The anomaly at table level: force both writers to contend for the
    same version number under the overwriting protocol — both 'commit',
    one append's rows vanish. This is what running this format on bare
    object-store PUT would do, and why SnapshotTable takes a protocol."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        OverwritingCommit,
        SnapshotTable as ST,
    )

    t = ST(spark, str(tmp_path / "unsafe"), commit_protocol=OverwritingCommit())
    t.create(spark.range(10).select("id", F.lit(0).alias("grp")))
    # two deltas prepared against the same base version, published
    # back-to-back: with O_EXCL the second would retry onto v3; with
    # overwrite it clobbers v2 and the first append is lost.
    a = t._write_batch(spark.range(100, 105).select("id", F.lit(1).alias("grp")))
    b = t._write_batch(spark.range(200, 205).select("id", F.lit(2).alias("grp")))
    base = t.snapshot().version
    t.commit_protocol.publish(
        t._manifest_path(base + 1),
        json.dumps(
            {
                "version": base + 1,
                "timestamp_ms": 1,
                "operation": "append",
                "files": sorted(t.snapshot().files + a),
                "stats": {},
            }
        ),
    )
    t.commit_protocol.publish(
        t._manifest_path(base + 1),
        json.dumps(
            {
                "version": base + 1,
                "timestamp_ms": 2,
                "operation": "append",
                "files": sorted(t.snapshot(base).files + b),
                "stats": {},
            }
        ),
    )
    rows = {r.id for r in t.read().collect()}
    assert {200, 201, 202, 203, 204} <= rows
    assert not ({100, 101, 102, 103, 104} & rows), "first append silently lost"


def test_delta_manifests_checkpoint_and_fold(spark, tmp_path):
    """Incremental commits write DELTA manifests (add/remove only — no
    full file list), full manifests are checkpointed on the interval,
    and every historical version folds to the correct row set."""
    from summit_23_snowpark_data_lake_workloads_spark.sources import lakehouse
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        SnapshotTable,
    )

    t = SnapshotTable(spark, str(tmp_path / "delta_tbl"))
    t.create(spark.range(0, 10).withColumnRenamed("id", "k"))
    for i in range(1, 10):
        t.append(spark.range(i * 10, i * 10 + 10).withColumnRenamed("id", "k"))

    kinds = {v: ("full" if "files" in t._raw(v) else "delta")
             for v in t._versions()}
    assert kinds[1] == "full", "create writes the full manifest"
    ck = lakehouse._CHECKPOINT_EVERY
    assert kinds[ck] == "full", "checkpoint version must be full"
    assert any(k == "delta" for k in kinds.values()), "appends write deltas"
    for v, kind in kinds.items():
        if kind == "delta":
            raw = t._raw(v)
            assert "files" not in raw and raw["base_version"] == v - 1
            assert len(raw["add"]) < len(t._load(v).files), (
                "delta metadata must be commit-sized, not table-sized"
            )
    # every version folds to exactly its rows (time travel intact)
    for v in t._versions():
        assert t.read(version=v).count() == v * 10
    # stats folded through deltas still power data skipping
    snap = t._load(t.snapshot().version)
    assert snap.stats and all(f in snap.stats for f in snap.files)


def test_delta_manifest_delete_and_vacuum_boundary(spark, tmp_path):
    """Row-level DELETE writes a delta with a remove list; vacuum
    past a delta's base materializes the oldest retained manifest as
    full so retained time travel never folds past the boundary."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        SnapshotTable,
    )
    from pyspark.sql import functions as F

    t = SnapshotTable(spark, str(tmp_path / "delta_vac"))
    t.create(spark.range(0, 20).withColumnRenamed("id", "k"))
    for i in range(1, 4):
        t.append(
            spark.range(20 + i * 10, 30 + i * 10).withColumnRenamed("id", "k")
        )
    t.delete(F.col("k") < 5)
    v_del = t.snapshot().version
    raw = t._raw(v_del)
    assert "files" not in raw and raw["remove"], "delete commits a delta"
    assert t.read().filter("k < 5").count() == 0

    t.vacuum(retain_last=2)
    kept = t._versions()
    assert len(kept) == 2
    assert "files" in t._raw(kept[0]), (
        "oldest retained manifest must be materialized full by vacuum"
    )
    # both retained versions still read correctly
    assert t.read(version=kept[0]).count() > 0
    assert t.read(version=kept[1]).filter("k < 5").count() == 0


class TestSchemaEvolution:
    """Delta-style write-side schema enforcement + opt-in evolution."""

    def _base(self, spark, tmp_path, name):
        from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
            SnapshotTable,
        )

        t = SnapshotTable(spark, str(tmp_path / name))
        t.create(
            spark.createDataFrame(
                [(1, "a"), (2, "b")], "id long, name string"
            )
        )
        return t

    def test_new_column_rejected_by_default(self, spark, tmp_path):
        import pytest as _pytest

        from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
            SchemaMismatchError,
        )

        t = self._base(spark, tmp_path, "t1")
        evolved = spark.createDataFrame(
            [(3, "c", 9.5)], "id long, name string, score double"
        )
        with _pytest.raises(SchemaMismatchError, match="score"):
            t.append(evolved)
        assert len(t._versions()) == 1  # nothing committed

    def test_opt_in_evolution_nulls_old_rows_and_time_travels(
        self, spark, tmp_path
    ):
        t = self._base(spark, tmp_path, "t2")
        t.append(
            spark.createDataFrame(
                [(3, "c", 9.5)], "id long, name string, score double"
            ),
            schema_evolution=True,
        )
        rows = {r.id: r.score for r in t.read().collect()}
        assert rows == {1: None, 2: None, 3: 9.5}
        assert "score" in t.table_schema().fieldNames()
        # pre-evolution version keeps the old schema
        assert "score" not in t.table_schema(version=1).fieldNames()

    def test_type_flip_always_rejected(self, spark, tmp_path):
        import pytest as _pytest

        from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
            SchemaMismatchError,
        )

        t = self._base(spark, tmp_path, "t3")
        flipped = spark.createDataFrame([("x", "c")], "id string, name string")
        with _pytest.raises(SchemaMismatchError, match="type change"):
            t.append(flipped, schema_evolution=True)

    def test_missing_column_append_reads_as_null(self, spark, tmp_path):
        t = self._base(spark, tmp_path, "t4")
        t.append(spark.createDataFrame([(9,)], "id long"))
        rows = {r.id: r.name for r in t.read().collect()}
        assert rows == {1: "a", 2: "b", 9: None}

    def test_merge_evolution(self, spark, tmp_path):
        import pytest as _pytest

        from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
            SchemaMismatchError,
        )

        t = self._base(spark, tmp_path, "t5")
        src = spark.createDataFrame(
            [(2, "B", 1.5), (4, "d", 2.5)],
            "id long, name string, score double",
        )
        with _pytest.raises(SchemaMismatchError):
            t.merge(src, ["id"])
        t.merge(src, ["id"], schema_evolution=True)
        rows = {r.id: (r.name, r.score) for r in t.read().collect()}
        assert rows == {
            1: ("a", None),
            2: ("B", 1.5),
            4: ("d", 2.5),
        }

    def test_rollback_reverts_evolution(self, spark, tmp_path):
        t = self._base(spark, tmp_path, "t6")
        t.append(
            spark.createDataFrame([(3, "c", 9.5)],
                                  "id long, name string, score double"),
            schema_evolution=True,
        )
        t.rollback(1)
        assert "score" not in t.table_schema().fieldNames()
        # and enforcement follows the ROLLED-BACK schema: score is new again
        import pytest as _pytest

        from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
            SchemaMismatchError,
        )

        with _pytest.raises(SchemaMismatchError):
            t.append(
                spark.createDataFrame([(5, "e", 1.0)],
                                      "id long, name string, score double")
            )

    def test_nested_non_nullable_frame_appends_back(self, spark, tmp_path):
        """A frame whose array elements, map values or struct fields are
        non-nullable appends to the table it created (the scan reports
        them nullable); a nested TYPE change is still refused."""
        import pytest as _pytest

        from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
            SchemaMismatchError,
        )

        df = spark.range(3).select(
            "id",
            F.array(F.col("id")).alias("arr"),
            F.create_map(F.lit("a"), F.col("id")).alias("mp"),
            F.struct(F.col("id").alias("x")).alias("st"),
        )
        flips = {
            "arr": F.array(F.col("id").cast("string")),
            "mp": F.create_map(F.lit("a"), F.col("id").cast("int")),
            "st": F.struct(F.col("id").cast("double").alias("x")),
        }
        for c, flipped in flips.items():
            frame = df.select("id", c)
            t = SnapshotTable(spark, str(tmp_path / c))
            t.create(frame)
            t.append(frame)
            assert t.read().count() == 6
            with _pytest.raises(SchemaMismatchError, match="type change"):
                t.append(df.select("id", flipped.alias(c)))


def test_small_decimal_table_commits(spark, tmp_path):
    """Spark stores a decimal(p <= 18) as a parquet integer whose
    footer min/max pyarrow cannot extract: the commit skips that
    column's stats instead of failing, and reads stay exact."""
    from decimal import Decimal

    t = SnapshotTable(spark, str(tmp_path / "dec"))
    df = spark.createDataFrame(
        [(1, Decimal("1.25")), (2, Decimal("-3.50"))], "id int, m decimal(10,2)"
    )
    t.create(df)
    t.append(df)
    assert t.table_schema()["m"].dataType.simpleString() == "decimal(10,2)"
    assert sorted(r.m for r in t.read().collect()) == [
        Decimal("-3.50"), Decimal("-3.50"), Decimal("1.25"), Decimal("1.25")
    ]
    assert t.read().filter(F.col("m") > 0).count() == 2


def test_threshold_compaction_packs_only_small_files(spark, tmp_path):
    """compact(small_file_bytes=...): full-sized files carry over
    UNTOUCHED (same path in the new manifest — the rewrite is
    proportional to fragmentation, not the table), sub-threshold
    fragments bin-pack, rows are invariant, and a fragment-free table
    is a no-op commit."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        SnapshotTable,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    # one "big" file (10k rows) + four tiny fragment appends
    t.create(spark.range(10_000).coalesce(1))
    for b in range(4):
        t.append(spark.range(100_000 + b, 100_001 + b).coalesce(1))
    snap = t.snapshot()
    big = max(
        snap.files,
        key=lambda f: os.path.getsize(os.path.join(t.path, f)),
    )
    big_size = os.path.getsize(os.path.join(t.path, big))
    n_before = t.read().count()

    t.compact(target_files=1, small_file_bytes=big_size)  # big is NOT small
    after = t.snapshot()
    assert big in after.files, "full-sized file must carry over untouched"
    assert len(after.files) == 2  # big + one packed fragment file
    assert after.operation == "compact"
    assert t.read().count() == n_before
    assert {r.id for r in t.read().filter(F.col("id") >= 100_000).collect()} == {
        100_000, 100_001, 100_002, 100_003
    }

    # fragment-free now: threshold compaction is a no-op, no new version
    v = after.version
    t.compact(target_files=1, small_file_bytes=big_size)
    assert t.snapshot().version == v


def test_vacuum_preserves_replay_protection(spark, tmp_path):
    """Vacuum folds expired txn stamps into a txn_seen high-water map
    on the oldest retained manifest — last_committed_batch (the
    streaming sinks' replay detector) must survive arbitrary vacuums,
    including repeated ones, or a post-vacuum checkpoint replay would
    re-append committed batches."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        SnapshotTable,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(spark.range(3))
    for b in range(5):
        t.append(spark.range(10 + b, 11 + b), txn={"app_id": "s", "batch_id": b})
    t.append(spark.range(99, 100), txn={"app_id": "other", "batch_id": 41})
    assert t.last_committed_batch("s") == 4

    t.vacuum(retain_last=2)  # drops the manifests carrying batches 0-4
    assert t.last_committed_batch("s") == 4
    assert t.last_committed_batch("other") == 41
    assert t.last_committed_batch("never") is None

    # fold-of-fold: a second vacuum must carry the map forward again
    t.append(spark.range(100, 101), txn={"app_id": "s", "batch_id": 5})
    t.vacuum(retain_last=1)
    assert t.last_committed_batch("s") == 5
    assert t.last_committed_batch("other") == 41
    assert t.read().count() == 3 + 5 + 1 + 1


# ---------------------------------------------------------------- partitions


class TestPartitionedTables:
    """Hive/Delta-style partition columns (``partition_by``): values live
    in the data files (Iceberg layout — any engine reads complete rows)
    AND in the manifest's per-file ``parts`` map, which is what makes
    partition pruning exact and partition overwrite/drop metadata-only.

    The 100 TB assertions: a pruned read plans a scan over ONLY the
    matching partition's files; ``drop_partitions`` commits without
    reading a byte; ``overwrite_partitions`` carries every untouched
    partition's files over by reference."""

    @pytest.fixture()
    def ptable(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "pt"), partition_by=["day"])
        df = spark.createDataFrame(
            [(i, f"2024-01-{1 + i % 3:02d}", float(i)) for i in range(30)],
            "id int, day string, v double",
        ).coalesce(2)
        t.create(df)
        return t

    def test_partition_columns_stay_in_data(self, ptable):
        df = ptable.read()
        assert set(df.columns) == {"id", "day", "v"}
        assert df.count() == 30

    def test_pruned_read_plans_only_matching_files(self, ptable):
        pruned = ptable.read(partition_where=[("day", "=", "2024-01-02")])
        snap = ptable.snapshot()
        match = [
            f for f, p in snap.parts.items() if p["day"] == "2024-01-02"
        ]
        assert len(pruned.inputFiles()) == len(match) < len(snap.files)
        assert pruned.count() == 10
        # pruning is exact: same rows as the full read + filter
        assert sorted(r.id for r in pruned.collect()) == sorted(
            r.id
            for r in ptable.read().filter(F.col("day") == "2024-01-02").collect()
        )

    def test_partition_pruning_in_op_and_ranges(self, ptable):
        assert ptable.read(
            partition_where=[("day", "in", ["2024-01-01", "2024-01-03"])]
        ).count() == 20
        assert ptable.read(
            partition_where=[("day", ">=", "2024-01-02")]
        ).count() == 20
        # empty match returns an empty frame with the right schema
        empty = ptable.read(partition_where=[("day", "=", "2099-12-31")])
        assert empty.count() == 0 and set(empty.columns) == {"id", "day", "v"}

    def test_numeric_partitions_compare_numerically(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "np"), partition_by=["bucket"])
        t.create(
            spark.createDataFrame(
                [(i, b) for i, b in enumerate([2, 9, 10, 11])],
                "id int, bucket int",
            )
        )
        # lexicographic "10" < "9" would misprune here
        assert t.read(partition_where=[("bucket", ">", 9)]).count() == 2
        assert t.read(partition_where=[("bucket", "=", 10)]).count() == 1

    def test_overwrite_partitions_is_surgical(self, spark, ptable):
        before = ptable.snapshot()
        untouched = {
            f for f, p in before.parts.items() if p["day"] != "2024-01-02"
        }
        ptable.overwrite_partitions(
            spark.createDataFrame(
                [(99, "2024-01-02", 9.9)], "id int, day string, v double"
            )
        )
        after = ptable.snapshot()
        # untouched partitions carried over BY REFERENCE (same paths)
        assert untouched <= set(after.files)
        assert ptable.read(
            partition_where=[("day", "=", "2024-01-02")]
        ).count() == 1
        assert ptable.read().count() == 21
        # time travel still sees the pre-overwrite day
        assert ptable.read(
            version=before.version, partition_where=[("day", "=", "2024-01-02")]
        ).count() == 10

    def test_drop_partitions_is_metadata_only(self, ptable):
        before = ptable.snapshot()
        snap = ptable.drop_partitions([("day", "=", "2024-01-01")])
        assert snap.operation == "drop_partitions"
        # pure metadata: every surviving file existed before (no rewrite)
        assert set(snap.files) <= set(before.files)
        assert ptable.read().count() == 20
        # manifest is a delta whose add list is empty
        raw = ptable._raw(snap.version)
        assert raw.get("add") == [] and raw.get("remove")

    def test_drop_partitions_rejects_row_predicates(self, ptable):
        with pytest.raises(ValueError, match="non-partition"):
            ptable.drop_partitions([("id", "=", 1)])

    def test_partitions_listing_is_metadata(self, ptable):
        listing = ptable.partitions()
        assert [p["day"] for p in listing] == [
            "2024-01-01", "2024-01-02", "2024-01-03",
        ]
        assert all(p["num_files"] >= 1 for p in listing)

    def test_handle_reopen_inherits_and_conflicts_fail(self, spark, ptable):
        t2 = SnapshotTable(spark, ptable.path)
        assert t2.partition_by == ["day"]
        assert t2.read(partition_where=[("day", "=", "2024-01-01")]).count() == 10
        with pytest.raises(ValueError, match="partitioned by"):
            SnapshotTable(spark, ptable.path, partition_by=["id"])

    def test_write_missing_partition_column_fails(self, spark, ptable):
        from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
            SchemaMismatchError,
        )

        with pytest.raises(SchemaMismatchError, match="partition column"):
            ptable.append(spark.createDataFrame([(1, 1.0)], "id int, v double"))

    def test_compact_preserves_partition_alignment(self, ptable):
        ptable.compact(target_files=1)
        snap = ptable.snapshot()
        # every file still maps to exactly one partition tuple
        assert all(set(p) == {"day"} for p in snap.parts.values())
        assert ptable.read().count() == 30
        assert ptable.read(
            partition_where=[("day", "=", "2024-01-03")]
        ).count() == 10

    def test_null_partition_value_roundtrip(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "nl"), partition_by=["day"])
        t.create(
            spark.createDataFrame(
                [(1, "2024-01-01"), (2, None)], "id int, day string"
            )
        )
        assert t.read(partition_where=[("day", "=", None)]).count() == 1
        assert t.read(partition_where=[("day", "=", "2024-01-01")]).count() == 1

    def test_vacuum_on_partitioned_table(self, spark, ptable):
        ptable.drop_partitions([("day", "=", "2024-01-01")])
        ptable.compact(target_files=1)
        removed = ptable.vacuum(retain_last=1)
        assert removed  # dropped partition + pre-compaction fragments
        assert ptable.read().count() == 20
        # pruning still works off the vacuum-materialized manifest
        assert ptable.read(
            partition_where=[("day", "=", "2024-01-02")]
        ).count() == 10
        # partition spec survives the manifest rewrite
        assert SnapshotTable(spark, ptable.path).partition_by == ["day"]

    def test_merge_respects_partitioning(self, spark, ptable):
        ptable.merge(
            spark.createDataFrame(
                [(0, "2024-01-01", -1.0), (555, "2024-01-02", 5.5)],
                "id int, day string, v double",
            ),
            key_cols=["id"],
        )
        snap = ptable.snapshot()
        assert all(set(p) == {"day"} for p in snap.parts.values())
        assert ptable.read().count() == 31
        got = {
            r.id: r.v
            for r in ptable.read(
                partition_where=[("day", "=", "2024-01-02")]
            ).collect()
        }
        assert got[555] == 5.5


class TestShardedCheckpoints:
    """Partition-sharded FULL manifests (the Iceberg manifest-list
    design): past ``shard_checkpoint_files`` a checkpoint writes one
    sidecar per partition plus a small shard index, and a pruned read
    resolves METADATA partition-locally — the piece that keeps a
    one-partition read off a table-wide JSON parse at 10^6 files."""

    @pytest.fixture()
    def sharded(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "sh"), partition_by=["day"])
        t.shard_checkpoint_files = 8  # force the sharded layout at test scale
        t.create(
            spark.createDataFrame(
                [(i, f"d{i % 5}", float(i)) for i in range(50)],
                "id int, day string, v double",
            ).repartition(4)
        )
        return t

    def test_checkpoint_is_sharded_per_partition(self, sharded):
        raw = sharded._raw(1)
        assert "files" not in raw
        assert len(raw["shard_index"]) == 5
        assert sorted(v["day"] for v in raw["shard_index"].values()) == [
            f"d{i}" for i in range(5)
        ]

    def test_pruned_read_loads_one_shard(self, sharded):
        df = sharded.read(partition_where=[("day", "=", "d3")])
        assert df.count() == 10
        assert len(sharded.last_shards_loaded) == 1
        # full read assembles all shards and loses nothing
        assert sharded.read().count() == 50
        assert len(sharded.last_shards_loaded) == 5

    def test_delta_fold_over_shards_stays_pruned(self, spark, sharded):
        sharded.append(
            spark.createDataFrame([(99, "d3", 9.9)], "id int, day string, v double")
        )
        df = sharded.read(partition_where=[("day", "=", "d3")])
        assert df.count() == 11
        assert len(sharded.last_shards_loaded) == 1
        # the appended file must NOT leak into other partitions' reads
        assert sharded.read(partition_where=[("day", "=", "d1")]).count() == 10

    def test_sharded_read_equals_unsharded(self, spark, tmp_path, sharded):
        plain = SnapshotTable(spark, str(tmp_path / "pl"), partition_by=["day"])
        plain.create(sharded.read())
        assert "files" in plain._raw(1)  # below threshold: inline manifest
        a = sorted((r.id, r.day, r.v) for r in sharded.read().collect())
        b = sorted((r.id, r.day, r.v) for r in plain.read().collect())
        assert a == b

    def test_vacuum_sweeps_expired_shards_keeps_live(self, spark, sharded):
        sharded.append(
            spark.createDataFrame([(99, "d0", 0.0)], "id int, day string, v double")
        )
        # rollback forces a second FULL (replace_all) manifest -> more shards
        sharded.rollback(1)
        sdir = os.path.join(sharded.path, "_manifests", "shards")
        before = len(os.listdir(sdir))
        sharded.vacuum(retain_last=1)
        after = os.listdir(sdir)
        # only the retained (still-sharded) manifest's shards survive
        live = set((sharded._raw(sharded.snapshot().version).get("shard_index") or {}))
        assert {os.path.join("shards", s) for s in after} == live
        assert len(after) < before
        assert sharded.read().count() == 50
        assert sharded.read(partition_where=[("day", "=", "d2")]).count() == 10


def test_streaming_sink_into_partitioned_table(spark, tmp_path):
    """The exactly-once append sink composes with partition_by: each
    micro-batch's files land partition-aligned (the sink routes through
    the same _write_batch invariant as batch writes), pruned reads stay
    partition-local across multiple commits, and the txn-stamp replay
    guard is unaffected — the 100 TB ingest shape (events streaming
    into a day-partitioned fact) in one test."""
    import json as _json

    from summit_23_snowpark_data_lake_workloads_spark.streaming.lakehouse_sink import (
        write_stream_to_snapshot_table,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join(
            _json.dumps({"id": i, "day": f"d{i % 3}"}) for i in range(12)
        )
        + "\n"
    )
    t = SnapshotTable(
        spark, str(tmp_path / "lake"), partition_by=["day"]
    )
    stream = (
        spark.readStream.schema("id long, day string")
        .json(str(src))
    )
    q = write_stream_to_snapshot_table(
        stream, t, "part-ingest", str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert t.read().count() == 12
    # files are partition-aligned and recorded
    snap = t.snapshot()
    assert all(set(p) == {"day"} for p in snap.parts.values())
    pruned = t.read(partition_where=[("day", "=", "d1")])
    assert pruned.count() == 4
    assert len(pruned.inputFiles()) < len(snap.files)
    # second batch appends into existing partitions + a new one
    (src / "b.json").write_text(
        _json.dumps({"id": 99, "day": "d1"})
        + "\n"
        + _json.dumps({"id": 100, "day": "d9"})
        + "\n"
    )
    q2 = write_stream_to_snapshot_table(
        stream, t, "part-ingest", str(tmp_path / "ckpt")
    )
    q2.awaitTermination(120)
    assert t.read(partition_where=[("day", "=", "d1")]).count() == 5
    assert t.read(partition_where=[("day", "=", "d9")]).count() == 1
    assert t.last_committed_batch("part-ingest") == 1
    # replayed batch_id is still a no-op on the partitioned table
    t.append(
        spark.createDataFrame([(7, "d1")], "id long, day string"),
        txn={"app_id": "part-ingest", "batch_id": 1},
    )
    assert t.read().count() == 14


def test_row_count_is_metadata_only(spark, tmp_path):
    """COUNT(*) from the manifest's per-file _nrows stats — exact
    across append/delete/merge/compact and per-partition, with no
    scan; None (never a wrong number) for pre-feature files."""
    t = SnapshotTable(spark, str(tmp_path / "rc"), partition_by=["day"])
    t.create(
        spark.createDataFrame(
            [(i, f"d{i % 3}") for i in range(30)], "id int, day string"
        )
    )
    assert t.row_count() == 30
    assert t.row_count(partition_where=[("day", "=", "d1")]) == 10
    t.delete(F.col("id") < 6)
    assert t.row_count() == 24 == t.read().count()
    t.compact(target_files=1)
    assert t.row_count() == 24
    # per-partition rows in the listing
    assert {p["day"]: p["num_rows"] for p in t.partitions()} == {
        "d0": 8, "d1": 8, "d2": 8,
    }
    # time travel counts the old version
    assert t.row_count(version=1) == 30
    # a manifest stripped of _nrows (pre-feature table) -> None
    snap = t.snapshot()
    import json as _json

    mp = t._manifest_path(snap.version)
    raw = _json.loads(open(mp).read())
    for f in raw.get("stats", {}):
        raw["stats"][f].pop("_nrows", None)
    if "shard_index" in raw:  # not at this size, but stay robust
        pass
    open(mp, "w").write(_json.dumps(raw))
    assert t.row_count() is None


def test_partition_scoped_zorder(spark, tmp_path):
    """OPTIMIZE ... WHERE: z-ordering one partition rewrites only that
    partition's files; the rest carry over by reference, rows are
    unchanged, and the clustered partition's stats actually skip."""
    t = SnapshotTable(spark, str(tmp_path / "zp"), partition_by=["day"])
    t.create(
        spark.createDataFrame(
            [(i, f"d{i % 2}", i * 37 % 100, i * 53 % 100) for i in range(400)],
            "id int, day string, x int, y int",
        ).repartition(8)
    )
    before = t.snapshot()
    d0_before = {
        f for f, p in before.parts.items() if p["day"] == "d0"
    }
    d1_before = {
        f for f, p in before.parts.items() if p["day"] == "d1"
    }
    snap = t.cluster_zorder(["x", "y"], 4, partition_where=[("day", "=", "d0")])
    assert snap.operation == "zorder"
    after = set(snap.files)
    # untouched partition carried over by reference; scoped one replaced
    assert d1_before <= after
    assert not (d0_before & after)
    assert t.read().count() == 400
    assert t.read(partition_where=[("day", "=", "d0")]).count() == 200
    # the re-clustered files skip on x within d0
    kept = [
        f
        for f in snap.files
        if snap.parts[f]["day"] == "d0"
        and _file_may_match_stats(snap.stats.get(f), "x", 5)
    ]
    d0_after = [f for f in snap.files if snap.parts[f]["day"] == "d0"]
    assert len(kept) < len(d0_after)
    # no-match scope is a no-op commit
    assert t.cluster_zorder(["x"], 2, partition_where=[("day", "=", "zz")]).version == snap.version


def _file_may_match_stats(stats, col, value):
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        _file_may_match,
    )

    return _file_may_match(stats, col, "=", value)


def test_partition_ops_conflict_on_stale_base(spark, tmp_path):
    """overwrite_partitions / drop_partitions are non-commuting (they
    remove files), so a commit based on a stale HEAD must raise
    ConcurrentWriteError — never silently resurrect or drop the other
    writer's rows."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        ConcurrentWriteError,
    )

    t = SnapshotTable(spark, str(tmp_path / "cc"), partition_by=["day"])
    t.create(
        spark.createDataFrame(
            [(i, f"d{i % 2}") for i in range(10)], "id int, day string"
        )
    )
    stale = SnapshotTable(spark, t.path)  # second handle, same table
    t.append(spark.createDataFrame([(99, "d0")], "id int, day string"))

    # the stale handle's partition ops read HEAD at call time -> succeed;
    # simulate the real race by pinning the base version in _commit
    with pytest.raises(ConcurrentWriteError):
        stale._commit(
            "drop_partitions", base_version=1, add=[],
            remove=frozenset(stale.snapshot(1).files),
        )
    # table unchanged by the failed commit
    assert t.read().count() == 11


def test_partition_values_with_special_characters(spark, tmp_path):
    """Hive-escaped partition dir values (spaces, slashes, equals)
    round-trip through write -> manifest -> pruning exactly."""
    t = SnapshotTable(spark, str(tmp_path / "sp"), partition_by=["src"])
    vals = ["a b", "x/y", "k=v", "plain"]
    t.create(
        spark.createDataFrame(
            [(i, vals[i % 4]) for i in range(8)], "id int, src string"
        )
    )
    for v in vals:
        got = t.read(partition_where=[("src", "=", v)])
        assert got.count() == 2
        assert {r.src for r in got.collect()} == {v}
    assert {p["src"] for p in t.partitions()} == set(vals)


# ---------------------------------------------------------------- bucketed


class TestBucketedTable:
    def _make(self, spark, tmp_path, n_buckets=4):
        from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
            BucketedTable,
        )

        t = BucketedTable(
            spark, str(tmp_path / "bt"), bucket_col="id", n_buckets=n_buckets
        )
        t.create(
            spark.range(0, 200).select("id", (F.col("id") * 7).alias("val"))
        )
        return t

    def test_lookup_scans_only_target_buckets(self, spark, tmp_path):
        t = self._make(spark, tmp_path)
        got = t.lookup([13, 42])
        assert sorted((r.id, r.val) for r in got.collect()) == [
            (13, 91),
            (42, 294),
        ]
        # the PLANNED scan touches only the two keys' buckets' files
        want_buckets = {t.bucket_of(13), t.bucket_of(42)}
        for f in got.inputFiles():
            assert any(f"_pk__bucket={b}" in f for b in want_buckets), f
        # and strictly fewer files than the full table (pruning is real)
        assert len(got.inputFiles()) < len(t.read().inputFiles())

    def test_bucket_expr_matches_driver_side_bucket_of(self, spark, tmp_path):
        t = self._make(spark, tmp_path)
        rows = (
            t.read()
            .select("id", "_bucket")
            .withColumn("expect", t.bucket_expr())
            .collect()
        )
        assert rows
        for r in rows:
            assert r["_bucket"] == r["expect"] == t.bucket_of(r["id"])

    def test_merge_rewrites_only_touched_buckets(self, spark, tmp_path):
        t = self._make(spark, tmp_path)
        before = set(t.snapshot().files)
        src = spark.createDataFrame(
            [(13, -1), (1000, -2)], "id long, val long"
        )
        t.merge(src, key_cols=["id"])
        after = set(t.snapshot().files)
        removed = before - after
        touched = {t.bucket_of(13)}  # 1000 is an insert: removes nothing
        assert removed, "merge should rewrite the matched key's bucket"
        for f in removed:
            assert any(f"_pk__bucket={b}" in f for b in touched), f
        got = {r.id: r.val for r in t.lookup([13, 1000, 42]).collect()}
        assert got == {13: -1, 1000: -2, 42: 294}
        # upserted rows carry their REAL bucket, never NULL
        assert (
            t.read().filter(F.col("_bucket").isNull()).count() == 0
        )

    def test_reopen_adopts_spec_and_conflict_fails(self, spark, tmp_path):
        from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
            BucketedTable,
        )

        t = self._make(spark, tmp_path)
        again = BucketedTable(spark, t.path)
        assert (again.bucket_col, again.n_buckets) == ("id", 4)
        assert again.lookup([99]).count() == 1
        with pytest.raises(ValueError, match="bucketed by"):
            BucketedTable(spark, t.path, bucket_col="val", n_buckets=4)
        with pytest.raises(ValueError, match="bucketed by"):
            BucketedTable(spark, t.path, bucket_col="id", n_buckets=8)

    def test_compaction_preserves_lookup(self, spark, tmp_path):
        t = self._make(spark, tmp_path)
        t.append(spark.range(200, 400).select("id", (F.col("id") * 7).alias("val")))
        before = sorted((r.id, r.val) for r in t.lookup([5, 250]).collect())
        t.compact(target_files=1)
        after = sorted((r.id, r.val) for r in t.lookup([5, 250]).collect())
        assert before == after == [(5, 35), (250, 1750)]


def test_partition_match_exact_above_2_53():
    """Integer partition values above 2^53 (snowflake ids, hash keys)
    must compare EXACTLY — float(a)-float(b) collapses neighbors, so
    '=' could match (and drop_partitions delete) an adjacent partition,
    and range conjuncts in this exact pruning path could silently skip
    files."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        _partition_match,
    )

    a = 2**53 + 1  # float(2**53+1) == float(2**53)
    b = 2**53
    assert not _partition_match({"id": str(a)}, [("id", "=", b)])
    assert _partition_match({"id": str(a)}, [("id", "=", a)])
    assert _partition_match({"id": str(a)}, [("id", ">", b)])
    assert not _partition_match({"id": str(b)}, [("id", ">", b)])
    assert not _partition_match({"id": str(a)}, [("id", "in", [b, b - 1])])
    # mixed int/float still compares numerically
    assert _partition_match({"x": "10"}, [("x", "<", 10.5)])
    assert _partition_match({"x": "10.0"}, [("x", "=", 10)])


class TestTransformPartitioning:
    """Iceberg-style hidden partitioning: partition_by entries like
    ``day(ts)`` / ``month(ts)`` / ``truncate(n, col)`` derive the layout
    from a source column; readers predicate on the SOURCE column and
    pruning translates conservatively; exact surfaces (drop_partitions,
    row_count) accept only derived-field predicates."""

    @pytest.fixture()
    def ttable(self, spark, tmp_path):
        import datetime as dt

        t = SnapshotTable(spark, str(tmp_path / "tt"), partition_by=["day(ts)"])
        rows = [
            (i, dt.datetime(2024, 1, 1 + i % 5, 6 + i % 12, 30), float(i))
            for i in range(50)
        ]
        t.create(
            spark.createDataFrame(rows, "id int, ts timestamp, v double")
            .coalesce(2)
        )
        return t

    def test_derived_field_names_and_layout(self, ttable):
        assert ttable.partition_field_names == ["ts_day"]
        parts = ttable.partitions()
        assert [p["ts_day"] for p in parts] == [
            f"2024-01-{d:02d}" for d in range(1, 6)
        ]
        assert sum(p["num_rows"] for p in parts) == 50
        # derived field never lands in the data files
        assert set(ttable.read().columns) == {"id", "ts", "v"}

    def test_timestamp_range_predicate_shrinks_input_files(self, ttable):
        """The VERDICT 'done' bar: inputFiles() shrinks under a
        timestamp-range predicate against day partitions."""
        full = ttable.read()
        pruned = ttable.read(
            partition_where=[("ts", ">=", "2024-01-04 00:00:00")]
        )
        assert 0 < len(pruned.inputFiles()) < len(full.inputFiles())
        # conservative + row filter == exact
        lit = "2024-01-04 00:00:00"
        assert (
            pruned.filter(F.col("ts") >= lit).count()
            == full.filter(F.col("ts") >= lit).count()
            == 20
        )

    def test_boundary_day_needs_row_filter(self, ttable):
        """A mid-day bound keeps the boundary partition (conservative),
        and the row filter trims it exactly."""
        lit = "2024-01-03 12:00:00"
        pruned = ttable.read(partition_where=[("ts", ">", lit)])
        # days 03..05 kept (03 is the boundary day)
        assert {p["ts_day"] for p in ttable.partitions()} >= {"2024-01-03"}
        exact = ttable.read().filter(F.col("ts") > lit)
        assert pruned.filter(F.col("ts") > lit).count() == exact.count()
        assert pruned.count() >= exact.count()

    def test_field_predicates_are_exact(self, ttable):
        one = ttable.read(partition_where=[("ts_day", "=", "2024-01-02")])
        assert one.count() == 10
        assert ttable.row_count(
            partition_where=[("ts_day", "=", "2024-01-02")]
        ) == 10

    def test_exact_surfaces_refuse_source_column(self, ttable):
        with pytest.raises(ValueError, match="ts_day"):
            ttable.drop_partitions([("ts", "<", "2024-01-03")])
        with pytest.raises(ValueError, match="overcount"):
            ttable.row_count(partition_where=[("ts", "<", "2024-01-03")])

    def test_drop_expired_days_is_metadata_only(self, ttable):
        before = set(ttable.snapshot().files)
        ttable.drop_partitions([("ts_day", "<", "2024-01-03")])
        after = set(ttable.snapshot().files)
        assert after < before  # removed, nothing added
        assert ttable.read().count() == 30
        # expired days still readable via time travel
        assert ttable.read(version=1).count() == 50

    def test_overwrite_late_day(self, spark, ttable):
        import datetime as dt

        late = spark.createDataFrame(
            [(99, dt.datetime(2024, 1, 2, 9, 0), 999.0)],
            "id int, ts timestamp, v double",
        )
        ttable.overwrite_partitions(late)
        day2 = ttable.read(partition_where=[("ts_day", "=", "2024-01-02")])
        assert [r.id for r in day2.collect()] == [99]
        assert ttable.read().count() == 41  # 50 - 10 + 1

    def test_spec_persists_and_conflicts_fail(self, spark, ttable):
        reopened = SnapshotTable(spark, ttable.path)
        assert reopened.partition_by == ["day(ts)"]
        assert reopened.partition_field_names == ["ts_day"]
        with pytest.raises(ValueError, match="partitioned by"):
            SnapshotTable(spark, ttable.path, partition_by=["ts"])

    def test_truncate_string_and_int(self, spark, tmp_path):
        t = SnapshotTable(
            spark, str(tmp_path / "tr"), partition_by=["truncate(3, sku)"]
        )
        t.create(
            spark.createDataFrame(
                [("abc-1", 1), ("abc-2", 2), ("xyz-9", 3)], "sku string, n int"
            )
        )
        assert {p["sku_trunc3"] for p in t.partitions()} == {"abc", "xyz"}
        assert t.read(
            partition_where=[("sku", "=", "abc-2")]
        ).filter(F.col("sku") == "abc-2").count() == 1
        ti = SnapshotTable(
            spark, str(tmp_path / "ti"), partition_by=["truncate(100, uid)"]
        )
        ti.create(
            spark.createDataFrame(
                [(5, "a"), (105, "b"), (199, "c"), (250, "d")],
                "uid long, tag string",
            )
        )
        assert {p["uid_trunc100"] for p in ti.partitions()} == {"0", "100", "200"}
        pruned = ti.read(partition_where=[("uid", ">=", 150)])
        assert pruned.filter(F.col("uid") >= 150).count() == 2
        assert len(pruned.inputFiles()) < len(ti.read().inputFiles())

    def test_month_transform_and_mixed_spec(self, spark, tmp_path):
        import datetime as dt

        t = SnapshotTable(
            spark,
            str(tmp_path / "mx"),
            partition_by=["region", "month(ts)"],
        )
        t.create(
            spark.createDataFrame(
                [
                    ("eu", dt.datetime(2024, 1, 10), 1),
                    ("eu", dt.datetime(2024, 2, 10), 2),
                    ("us", dt.datetime(2024, 1, 20), 3),
                ],
                "region string, ts timestamp, n int",
            )
        )
        assert t.partition_field_names == ["region", "ts_month"]
        got = {
            (p["region"], p["ts_month"]): p["num_rows"] for p in t.partitions()
        }
        assert got == {("eu", "2024-01"): 1, ("eu", "2024-02"): 1, ("us", "2024-01"): 1}
        pruned = t.read(
            partition_where=[("region", "=", "eu"), ("ts", ">=", "2024-02-01")]
        )
        assert [r.n for r in pruned.filter(F.col("ts") >= "2024-02-01").collect()] == [2]

    def test_bad_specs_rejected(self, spark, tmp_path):
        with pytest.raises(ValueError, match="unsupported"):
            SnapshotTable(spark, str(tmp_path / "b1"), partition_by=["century(ts)"])
        with pytest.raises(ValueError, match="positive"):
            SnapshotTable(spark, str(tmp_path / "b2"), partition_by=["truncate(0, x)"])
        with pytest.raises(ValueError, match="duplicate"):
            SnapshotTable(
                spark, str(tmp_path / "b3"), partition_by=["day(ts)", "day(ts)"]
            )


class TestPartitionSpecEvolution:
    """Iceberg-style spec evolution: metadata-only spec change; old
    files keep their written-under spec's tuples (conservative reads),
    exact surfaces refuse until compaction migrates, compact re-arms."""

    @pytest.fixture()
    def evolved(self, spark, tmp_path):
        import datetime as dt

        t = SnapshotTable(spark, str(tmp_path / "ev"), partition_by=["region"])
        rows = [
            ("eu", dt.datetime(2024, 1, 1 + i % 3), i, float(i))
            for i in range(12)
        ] + [("us", dt.datetime(2024, 1, 4), 99, 9.0)]
        t.create(
            spark.createDataFrame(
                rows, "region string, ts timestamp, id int, v double"
            ).coalesce(2)
        )
        t.evolve_partition_spec(["region", "day(ts)"])
        import datetime as dt2

        t.append(
            spark.createDataFrame(
                [("eu", dt2.datetime(2024, 2, 1), 100, 1.0),
                 ("us", dt2.datetime(2024, 2, 2), 101, 2.0)],
                "region string, ts timestamp, id int, v double",
            )
        )
        return t

    def test_spec_persists_and_old_files_conservative(self, spark, evolved):
        assert evolved.partition_by == ["region", "day(ts)"]
        reopened = SnapshotTable(spark, evolved.path)
        assert reopened.partition_field_names == ["region", "ts_day"]
        # a day predicate keeps ALL old files (they predate ts_day) plus
        # the matching new one — conservative, never lossy
        pruned = evolved.read(partition_where=[("ts_day", "=", "2024-02-01")])
        lit = "2024-02-01 00:00:00"
        exact = evolved.read().filter(
            F.date_format("ts", "yyyy-MM-dd") == "2024-02-01"
        )
        got = pruned.filter(F.date_format("ts", "yyyy-MM-dd") == "2024-02-01")
        assert got.count() == exact.count() == 1
        # identity field recorded by BOTH eras still prunes exactly
        us = evolved.read(partition_where=[("region", "=", "us")])
        assert us.count() == 2

    def test_exact_surfaces_refuse_pre_evolution_files(self, evolved):
        with pytest.raises(ValueError, match="compact"):
            evolved.drop_partitions([("ts_day", "<", "2024-01-02")])
        with pytest.raises(ValueError, match="compact"):
            evolved.row_count(partition_where=[("ts_day", "=", "2024-02-01")])
        with pytest.raises(ValueError, match="compact"):
            evolved.overwrite_partitions(
                evolved.read().filter(F.col("id") == 100)
            )
        # fields recorded on EVERY live file still work exactly
        assert evolved.row_count(partition_where=[("region", "=", "us")]) == 2

    def test_compact_migrates_and_rearms(self, evolved):
        before = evolved.read().count()
        evolved.compact(target_files=2)
        assert evolved.read().count() == before
        # every file now records ts_day -> exact surfaces re-armed
        assert evolved.row_count(
            partition_where=[("ts_day", "=", "2024-02-01")]
        ) == 1
        evolved.drop_partitions([("ts_day", ">=", "2024-02-01")])
        assert evolved.read().count() == before - 2
        # and time travel across the evolution boundary still reads
        assert evolved.read(version=1).count() == 13

    def test_unpartitioned_table_can_evolve(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "up"))
        t.create(
            spark.createDataFrame(
                [(1, "a"), (2, "b"), (3, "a")], "id int, cat string"
            )
        )
        t.evolve_partition_spec(["cat"])
        t.append(spark.createDataFrame([(4, "c")], "id int, cat string"))
        assert {p["cat"] for p in t.partitions()} >= {"c"}
        pruned = t.read(partition_where=[("cat", "=", "c")])
        assert pruned.filter(F.col("cat") == "c").count() == 1
        # old unpartitioned files are kept conservatively
        assert pruned.count() >= 1

    def test_bad_evolution_rejected(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "bad"), partition_by=["cat"])
        t.create(spark.createDataFrame([(1, "a")], "id int, cat string"))
        from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
            SchemaMismatchError,
        )

        with pytest.raises(ValueError, match="empty"):
            t.evolve_partition_spec([])
        with pytest.raises(SchemaMismatchError, match="missing source"):
            t.evolve_partition_spec(["day(ts)"])
        # failed evolution must not leave the handle on the new spec
        assert t.partition_by == ["cat"]


def test_partition_scoped_compaction(spark, tmp_path):
    """compact(partition_where=...) rewrites only the scoped
    partition's files; every other partition carries by reference —
    and the scope accepts a transform SOURCE-column predicate."""
    import datetime as dt

    t = SnapshotTable(spark, str(tmp_path / "pc"), partition_by=["day(ts)"])
    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 3, 8), float(i)) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "id int, ts timestamp, v double")
    t.create(df.repartition(4))  # several files per day
    for _ in range(2):  # fragment day partitions further
        t.append(df.limit(6).repartition(3))
    before = t.snapshot()
    day2 = [
        f for f, p in (before.parts or {}).items()
        if p.get("ts_day") == "2024-01-02"
    ]
    other = [f for f in before.files if f not in day2]
    assert len(day2) >= 3
    total = t.read().count()
    t.compact(target_files=1, partition_where=[("ts_day", "=", "2024-01-02")])
    after = t.snapshot()
    # untouched partitions carried by reference
    assert all(f in after.files for f in other)
    # scoped partition rewritten into fewer files
    day2_after = [
        f for f, p in (after.parts or {}).items()
        if p.get("ts_day") == "2024-01-02"
    ]
    assert len(day2_after) < len(day2)
    assert not any(f in after.files for f in day2)
    assert t.read().count() == total
    # source-column scope (translated) also works and preserves rows
    t.compact(target_files=1, partition_where=[("ts", ">=", "2024-01-03 00:00:00")])
    assert t.read().count() == total


def test_zorder_scope_accepts_transform_source_predicate(spark, tmp_path):
    """cluster_zorder(partition_where=[('ts', ...)]) on a day(ts)
    table: the scope translates conservatively, only scoped files are
    replaced, rows preserved."""
    import datetime as dt

    t = SnapshotTable(spark, str(tmp_path / "zt"), partition_by=["day(ts)"])
    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 2, 8), float(i % 7), float(i % 11))
        for i in range(40)
    ]
    t.create(
        spark.createDataFrame(rows, "id int, ts timestamp, x double, y double")
        .repartition(4)
    )
    before = set(t.snapshot().files)
    day1 = {
        f for f, p in (t.snapshot().parts or {}).items()
        if p.get("ts_day") == "2024-01-01"
    }
    t.cluster_zorder(
        ["x", "y"], n_files=2,
        partition_where=[("ts", "<", "2024-01-02 00:00:00")],
    )
    after = set(t.snapshot().files)
    assert t.read().count() == 40
    # day-1 files replaced, day-2 carried (strict '<' midnight bound
    # translates to ts_day <= 2024-01-02... conservative keeps day 2 in
    # scope, so allow either, but rows must be intact and day1 rewritten)
    assert not (day1 & after)
    assert before != after


class TestShallowClone:
    """Zero-copy clone: one JSON write, reads identical, branch
    mutations never touch the source, clone vacuum can't delete source
    files."""

    def test_clone_reads_identical_and_costs_no_data(self, spark, tmp_path):
        src = SnapshotTable(spark, str(tmp_path / "src"))
        src.create(
            spark.createDataFrame(
                [(i, float(i)) for i in range(20)], "id int, v double"
            )
        )
        clone = src.clone_to(str(tmp_path / "cl"))
        assert sorted(r.id for r in clone.read().collect()) == list(range(20))
        # zero copy: the clone dir holds no parquet
        import os as _os

        data = _os.path.join(clone.path, "data")
        assert not _os.path.isdir(data) or not any(
            f.endswith(".parquet")
            for _r, _d, fs in _os.walk(data)
            for f in fs
        )

    def test_branch_mutations_leave_source_untouched(self, spark, tmp_path):
        src = SnapshotTable(spark, str(tmp_path / "src"))
        src.create(
            spark.createDataFrame(
                [(i, float(i)) for i in range(20)], "id int, v double"
            )
        )
        clone = src.clone_to(str(tmp_path / "cl"))
        clone.append(
            spark.createDataFrame([(99, 9.0)], "id int, v double")
        )
        clone.delete(F.col("id") % 2 == 0)  # COW rewrites INTO the clone
        assert src.read().count() == 20  # source unchanged
        got = sorted(r.id for r in clone.read().collect())
        assert got == [i for i in range(20) if i % 2] + [99]
        # the COW rewrite landed under the clone's root
        assert any(not os.path.isabs(f) for f in clone.snapshot().files)

    def test_partitioned_clone_prunes_and_drops(self, spark, tmp_path):
        src = SnapshotTable(
            spark, str(tmp_path / "psrc"), partition_by=["bucket"]
        )
        src.create(
            spark.createDataFrame(
                [(i, i % 3, float(i)) for i in range(30)],
                "id int, bucket int, v double",
            )
        )
        clone = src.clone_to(str(tmp_path / "pcl"))
        pruned = clone.read(partition_where=[("bucket", "=", 1)])
        assert pruned.count() == 10
        clone.drop_partitions([("bucket", "=", 0)])
        assert clone.read().count() == 20
        assert src.read().count() == 30

    def test_clone_vacuum_never_deletes_source(self, spark, tmp_path):
        src = SnapshotTable(spark, str(tmp_path / "vsrc"))
        src.create(
            spark.createDataFrame([(1, 1.0), (2, 2.0)], "id int, v double")
        )
        clone = src.clone_to(str(tmp_path / "vcl"))
        clone.append(spark.createDataFrame([(3, 3.0)], "id int, v double"))
        clone.overwrite(
            spark.createDataFrame([(9, 9.0)], "id int, v double")
        )
        removed = clone.vacuum(retain_last=1)
        assert all(not os.path.isabs(f) for f in removed)
        assert src.read().count() == 2  # source files all intact

    def test_clone_of_existing_path_refuses(self, spark, tmp_path):
        src = SnapshotTable(spark, str(tmp_path / "s2"))
        src.create(spark.createDataFrame([(1, 1.0)], "id int, v double"))
        src.clone_to(str(tmp_path / "c2"))
        with pytest.raises((FileExistsError, ValueError)):
            src.clone_to(str(tmp_path / "c2"))


def test_compact_racing_append_raises_append_wins(spark, tmp_path):
    """Optimistic multi-writer rule, the compact side: an append landing
    between compact's snapshot and its commit moves HEAD, and the
    remove-carrying compact must abort (ConcurrentWriteError) with the
    append's rows intact — never silently resurrect the pre-append
    layout (Delta's logical-conflict rule: disjoint appends rebase,
    overlapping rewrites fail)."""
    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        ConcurrentWriteError,
        SnapshotTable as ST,
    )

    t = ST(spark, str(tmp_path / "cr"))
    t.create(spark.range(10).select("id", F.lit(0).alias("grp")))
    racer = ST(spark, t.path)
    orig_read = t.read
    fired = {"done": False}

    def racy_read(*a, **kw):
        if not fired["done"]:
            fired["done"] = True
            racer.append(spark.range(100, 105).select("id", F.lit(1).alias("grp")))
        return orig_read(*a, **kw)

    t.read = racy_read
    with pytest.raises(ConcurrentWriteError):
        t.compact(target_files=1)
    t.read = orig_read
    assert racer.read().count() == 15  # the concurrent append survived
    # retry on fresh state succeeds and keeps every row
    t.compact(target_files=1)
    assert t.read().count() == 15
