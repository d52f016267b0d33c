"""Incrementally-maintained rollups (operators/rollup.py): incremental
== full recompute after every commit, delete/merge commits fold the
change feed's retractions (incremental_cdf), replace-all and vacuumed
ranges force the honest full fallback, refreshes are idempotent, and
the incremental path reads only the changed files."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.operators.rollup import (
    files_added_between,
    refresh_rollup,
)
from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
    SnapshotTable,
)


def _events(spark, lo, hi):
    return spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1 + i % 4, 8), float(i))
            for i in range(lo, hi)
        ],
        "id int, ts timestamp, v double",
    )


def _prepare(df):
    return df.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), F.col("v")
    )


def _state(rollup):
    return sorted(
        ((r.day, r.n_rows, r.sum_v) for r in rollup.read().collect()),
        key=lambda t: (str(t[0]), t[1:]),
    )


def _full(spark, fact):
    return sorted(
        (
            (r.day, r.n_rows, r.sum_v)
            for r in _prepare(fact.read())
            .groupBy("day")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.sum("v").alias("sum_v"))
            .collect()
        ),
        key=lambda t: (str(t[0]), t[1:]),
    )


@pytest.fixture()
def tables(spark, tmp_path):
    fact = SnapshotTable(spark, str(tmp_path / "fact"))
    rollup = SnapshotTable(spark, str(tmp_path / "roll"), partition_by=["day"])
    fact.create(_events(spark, 0, 20))
    return fact, rollup


def test_first_refresh_is_full_then_incremental(spark, tables):
    fact, rollup = tables
    assert refresh_rollup(fact, rollup, _prepare, ["day"], ["v"]) == "full"
    assert _state(rollup) == _full(spark, fact)
    fact.append(_events(spark, 20, 30))
    assert (
        refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
        == "incremental"
    )
    assert _state(rollup) == _full(spark, fact)


def test_refresh_is_idempotent_noop(spark, tables):
    fact, rollup = tables
    refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
    assert refresh_rollup(fact, rollup, _prepare, ["day"], ["v"]) == "noop"
    v = rollup.snapshot().version
    refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
    assert rollup.snapshot().version == v


def test_incremental_touches_only_changed_partitions(spark, tables):
    fact, rollup = tables
    refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
    before = {
        f: p for f, p in (rollup.snapshot().parts or {}).items()
    }
    # append rows for ONE day only
    fact.append(
        spark.createDataFrame(
            [(99, dt.datetime(2024, 1, 2, 9), 5.0)],
            "id int, ts timestamp, v double",
        )
    )
    refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
    after = rollup.snapshot()
    carried = [f for f in after.files if f in before]
    # untouched days' files carried by reference; only 2024-01-02 rewritten
    assert carried and all(
        before[f]["day"] != "2024-01-02" for f in carried
    )
    assert _state(rollup) == _full(spark, fact)


@pytest.mark.parametrize(
    "partition_by", [["day"], None], ids=["partitioned", "unpartitioned"]
)
def test_delete_commit_refreshes_incremental_cdf(
    spark, tables, tmp_path, partition_by
):
    """A row DELETE in the range no longer forces a full recompute: the
    change feed's retractions fold the deleted rows OUT of the existing
    groups (r10 — the Delta-CDF materialized-view loop). Both layouts:
    a partitioned rollup pins the delta before its partition-local
    rewrite, an unpartitioned one reads it inside a single write."""
    fact, _ = tables
    rollup = SnapshotTable(
        spark, str(tmp_path / "cdf_roll"), partition_by=partition_by
    )
    refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
    fact.append(_events(spark, 20, 24))
    fact.delete(F.col("id") % 5 == 0)
    assert (
        refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
        == "incremental_cdf"
    )
    assert _state(rollup) == _full(spark, fact)


def test_merge_commit_refreshes_incremental_cdf(spark, tables):
    """MERGE = delete+insert pairs in the feed: updated rows retract
    their old values and add the new ones."""
    fact, rollup = tables
    refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
    upsert = spark.createDataFrame(
        [(3, dt.datetime(2024, 1, 4, 8), 100.0),
         (77, dt.datetime(2024, 1, 1, 8), 7.0)],
        "id int, ts timestamp, v double",
    )
    fact.merge(upsert, ["id"])
    assert (
        refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
        == "incremental_cdf"
    )
    assert _state(rollup) == _full(spark, fact)


def test_cdf_refresh_touches_only_changed_partitions(spark, tables):
    """The CDF path keeps the partition-local rewrite: deleting rows of
    ONE day rewrites (or drops) that day's rollup partition only."""
    fact, rollup = tables
    refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
    before = dict((rollup.snapshot().parts or {}).items())
    fact.delete(F.date_format("ts", "yyyy-MM-dd") == "2024-01-02")
    refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
    after = rollup.snapshot()
    carried = [f for f in after.files if f in before]
    assert carried and all(
        before[f]["day"] != "2024-01-02" for f in carried
    )
    # the emptied day's partition is gone, not stale
    assert all(p["day"] != "2024-01-02" for p in rollup.partitions())
    assert _state(rollup) == _full(spark, fact)


def test_overwrite_commit_forces_full(spark, tables):
    """A replace-all commit's change set is table-sized by definition —
    the refresh recomputes instead of consuming it."""
    fact, rollup = tables
    refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
    fact.overwrite(_events(spark, 5, 25))
    assert refresh_rollup(fact, rollup, _prepare, ["day"], ["v"]) == "full"
    assert _state(rollup) == _full(spark, fact)


def test_compact_in_range_stays_incremental(spark, tables):
    """Layout-only commits (compact) emit no changes, so an
    append+compact range folds incrementally instead of recomputing."""
    fact, rollup = tables
    refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
    fact.append(_events(spark, 20, 26))
    fact.compact(target_files=1)
    assert (
        refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
        == "incremental_cdf"
    )
    assert _state(rollup) == _full(spark, fact)


def test_null_group_key_survives_incremental(spark, tmp_path):
    """NULL group keys must match their own rollup row (null-safe
    carry): an incremental refresh over more NULL-day rows ADDS to the
    existing NULL group instead of replacing or duplicating it."""
    fact = SnapshotTable(spark, str(tmp_path / "fn"))
    rollup = SnapshotTable(spark, str(tmp_path / "rn"), partition_by=["day"])
    rows = "id int, ts timestamp, v double"
    fact.create(
        spark.createDataFrame(
            [(1, None, 1.0), (2, dt.datetime(2024, 1, 2, 8), 2.0)], rows
        )
    )
    refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
    fact.append(spark.createDataFrame([(3, None, 10.0)], rows))
    assert (
        refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
        == "incremental"
    )
    assert _state(rollup) == _full(spark, fact)
    null_row = [r for r in rollup.read().collect() if r.day is None]
    assert len(null_row) == 1 and null_row[0].n_rows == 2


def test_partition_subset_of_group_cols(spark, tmp_path):
    """Rollup partitioned by a SUBSET of its group columns (partition
    day, group (day, grp)): a delta touching one (day, grp) must not
    drop the day's sibling groups when the whole day-partition is
    overwritten — the combine carries existing rows at PARTITION
    granularity."""
    fact = SnapshotTable(spark, str(tmp_path / "fs"))
    rollup = SnapshotTable(spark, str(tmp_path / "rs"), partition_by=["day"])
    rows = "id int, ts timestamp, grp string, v double"

    def prep(df):
        return df.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "grp", "v"
        )

    def full(f):
        return sorted(
            (r.day, r.grp, r.n_rows, r.sum_v)
            for r in prep(f.read())
            .groupBy("day", "grp")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.sum("v").alias("sum_v"))
            .collect()
        )

    fact.create(
        spark.createDataFrame(
            [
                (1, dt.datetime(2024, 1, 1, 8), "a", 1.0),
                (2, dt.datetime(2024, 1, 1, 8), "b", 2.0),
                (3, dt.datetime(2024, 1, 2, 8), "a", 3.0),
            ],
            rows,
        )
    )
    refresh_rollup(fact, rollup, prep, ["day", "grp"], ["v"])
    # delta touches ONLY (2024-01-01, a); sibling (2024-01-01, b) must survive
    fact.append(
        spark.createDataFrame(
            [(4, dt.datetime(2024, 1, 1, 9), "a", 4.0)], rows
        )
    )
    assert (
        refresh_rollup(fact, rollup, prep, ["day", "grp"], ["v"])
        == "incremental"
    )
    got = sorted(
        (r.day, r.grp, r.n_rows, r.sum_v) for r in rollup.read().collect()
    )
    assert got == full(fact)


def test_partition_source_not_in_group_cols_refused(spark, tmp_path):
    fact = SnapshotTable(spark, str(tmp_path / "fb"))
    rollup = SnapshotTable(spark, str(tmp_path / "rb"), partition_by=["day"])
    fact.create(_events(spark, 0, 4))
    with pytest.raises(ValueError, match="partition source"):
        refresh_rollup(fact, rollup, _prepare, ["v"], [])


def test_full_refresh_pins_stamped_version(spark, tmp_path):
    """A concurrent fact append landing between snapshot() and the full
    scan must NOT be included in the stamped refresh (it would be
    re-added by the next incremental refresh over (v_hi, new] — double
    count). The full scan is pinned to the stamped version."""
    fact = SnapshotTable(spark, str(tmp_path / "fr"))
    rollup = SnapshotTable(spark, str(tmp_path / "rr"), partition_by=["day"])
    fact.create(_events(spark, 0, 10))
    other = SnapshotTable(spark, str(tmp_path / "fr"))  # concurrent writer
    orig_read = fact.read
    fired = {"done": False}

    def racy_read(*a, **kw):
        if not fired["done"]:
            fired["done"] = True
            other.append(_events(spark, 10, 14))  # lands mid-refresh
        return orig_read(*a, **kw)

    fact.read = racy_read
    assert refresh_rollup(fact, rollup, _prepare, ["day"], ["v"]) == "full"
    fact.read = orig_read
    # the concurrent rows arrive exactly once, via the NEXT refresh
    assert (
        refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
        == "incremental"
    )
    assert _state(rollup) == _full(spark, fact)


def test_files_added_between_spans_checkpoints(spark, tmp_path):
    fact = SnapshotTable(spark, str(tmp_path / "ck"))
    fact.create(_events(spark, 0, 4))
    for i in range(10):  # crosses the every-8 full-manifest checkpoint
        fact.append(_events(spark, 4 + i, 5 + i))
    added, removed = files_added_between(fact, 1, fact.snapshot().version)
    assert not removed
    got = set(added)
    want = set(fact.snapshot().files) - set(fact._load(1).files)
    assert got == want


def test_unpartitioned_rollup_overwrite_path(spark, tmp_path):
    fact = SnapshotTable(spark, str(tmp_path / "f2"))
    rollup = SnapshotTable(spark, str(tmp_path / "r2"))  # unpartitioned
    fact.create(_events(spark, 0, 12))
    refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
    fact.append(_events(spark, 12, 16))
    assert (
        refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
        == "incremental"
    )
    assert _state(rollup) == _full(spark, fact)


def test_vacuum_expired_range_forces_full(spark, tmp_path):
    """When the refresh range's manifests expired under vacuum, the
    add-lists are gone — incremental is unprovable and the refresh
    must fall back to a FULL recompute (and still be correct)."""
    fact = SnapshotTable(spark, str(tmp_path / "fv"))
    rollup = SnapshotTable(spark, str(tmp_path / "rv"), partition_by=["day"])
    fact.create(_events(spark, 0, 8))
    refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
    for i in range(3):
        fact.append(_events(spark, 8 + 4 * i, 12 + 4 * i))
    fact.vacuum(retain_last=1)  # expires the manifests the range needs
    assert (
        refresh_rollup(fact, rollup, _prepare, ["day"], ["v"]) == "full"
    )
    assert _state(rollup) == _full(spark, fact)


def test_spec_evolution_mid_range_stays_incremental(spark, tmp_path):
    """A metadata-only fact commit (partition-spec evolution) inside
    the refresh range adds no files and removes none: the refresh must
    claim incremental and fold the appends on BOTH sides of the spec
    boundary exactly (post-evolution appends land partition-aligned
    under _pk_ dirs — the file-scoped delta read must handle both
    layouts)."""
    fact = SnapshotTable(spark, str(tmp_path / "fe"))
    rollup = SnapshotTable(spark, str(tmp_path / "re"), partition_by=["day"])
    fact.create(_events(spark, 0, 8))
    refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
    fact.append(_events(spark, 8, 12))          # pre-evolution layout
    fact.evolve_partition_spec(["day(ts)"])      # metadata-only commit
    fact.append(_events(spark, 12, 16))          # post-evolution layout
    assert (
        refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
        == "incremental"
    )
    assert _state(rollup) == _full(spark, fact)


def test_evolution_only_range_advances_highwater(spark, tmp_path):
    """A range containing ONLY the metadata commit advances the
    high-water mark without touching data (refresh_noop commit), and
    the next real append still folds incrementally."""
    fact = SnapshotTable(spark, str(tmp_path / "fo"))
    rollup = SnapshotTable(spark, str(tmp_path / "ro"), partition_by=["day"])
    fact.create(_events(spark, 0, 8))
    refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
    fact.evolve_partition_spec(["day(ts)"])
    assert (
        refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
        == "incremental"
    )
    fact.append(_events(spark, 8, 12))
    assert (
        refresh_rollup(fact, rollup, _prepare, ["day"], ["v"])
        == "incremental"
    )
    assert _state(rollup) == _full(spark, fact)


def test_rename_between_appends_stays_incremental(spark, tmp_path):
    """The r10 composition gap (VERDICT r10 #1): the append-only
    refresh path must read added files through the fact's LOGICAL scan
    — files store physical (creation-time) names, so after a
    rename_column a raw parquet read of the delta would miss the
    renamed column (loud) or, on a name-swap chain, bind the WRONG one
    (silent). Rename between two appends: the refresh stays
    incremental and aggregates the renamed column correctly."""
    fact = SnapshotTable(spark, str(tmp_path / "fact"))
    rollup = SnapshotTable(spark, str(tmp_path / "roll"))
    fact.create(_events(spark, 0, 10))
    assert refresh_rollup(fact, rollup, _prepare, ["day"], ["v"]) == "full"
    fact.rename_column("v", "amount")

    def prep(df):
        return df.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.col("amount").alias("v"),
        )

    fact.append(
        _events(spark, 10, 20).withColumnRenamed("v", "amount")
    )
    assert refresh_rollup(fact, rollup, prep, ["day"], ["v"]) == "incremental"
    got = sorted(
        ((r.day, r.n_rows, r.sum_v) for r in rollup.read().collect()),
        key=lambda t: (str(t[0]), t[1:]),
    )
    want = sorted(
        (
            (r.day, r.n_rows, r.sum_v)
            for r in prep(fact.read())
            .groupBy("day")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("v").alias("sum_v"),
            )
            .collect()
        ),
        key=lambda t: (str(t[0]), t[1:]),
    )
    assert got == want


def test_rename_swap_chain_cannot_misbind(spark, tmp_path):
    """The SILENT half of the gap: rename a->x then b->a makes logical
    'a' resolve to PHYSICAL b; a raw delta read would find a column
    named 'a' (the old physical a = today's x) and silently aggregate
    the wrong values. Base rows have a == b so the base total is
    binding-agnostic; the appended delta has a != b, so a mis-bind
    changes the sum."""
    fact = SnapshotTable(spark, str(tmp_path / "fact"))
    rollup = SnapshotTable(spark, str(tmp_path / "roll"))
    fact.create(
        spark.createDataFrame(
            [(i, float(i), float(i)) for i in range(10)],
            "id int, a double, b double",
        )
    )
    prep = lambda df: df.select(F.lit(0).alias("g"), F.col("a"))
    assert refresh_rollup(fact, rollup, prep, ["g"], ["a"]) == "full"
    fact.rename_column("a", "x")
    fact.rename_column("b", "a")
    # logical columns now: id, x (phys a), a (phys b)
    fact.append(
        spark.createDataFrame(
            [(i, 1000.0, float(i)) for i in range(10, 20)],
            "id int, x double, a double",
        )
    )
    assert refresh_rollup(fact, rollup, prep, ["g"], ["a"]) == "incremental"
    [row] = rollup.read().collect()
    # base: sum(a==b)=45; delta: logical a (phys b) sums 145 — a
    # mis-bind to physical a would have added 10*1000 instead
    assert (row.n_rows, row.sum_a) == (20, 45.0 + 145.0)


def test_signed_delta_folds_four_way_labels(spark):
    """A labeled feed (update_preimage/update_postimage) must fold
    exactly like its two-way form — dropping the update images would
    silently corrupt any rollup wired to a labeled stream."""
    from summit_23_snowpark_data_lake_workloads_spark.operators.rollup import (
        _signed_delta,
    )

    chg = spark.createDataFrame(
        [
            ("a", 10, "insert", 2),
            ("a", 10, "update_preimage", 3),   # 10 retracted...
            ("a", 25, "update_postimage", 3),  # ...replaced by 25
            ("b", 7, "delete", 3),
        ],
        "k string, v long, _change_type string, _commit_version long",
    )
    delta = _signed_delta(chg, lambda df: df, ["k"], ["v"])
    got = {(r.k, r.n_rows, r.sum_v) for r in delta.collect()}
    assert got == {("a", 1, 25), ("b", -1, -7)}


# Stored rollup schemas, as the parent of the one-aggregate fold wrote
# them for an ``int``, ``long``, ``double`` and ``decimal(20,2)`` sum
# column. A full refresh stores ``sum(decimal(20,2))`` as
# ``decimal(30,2)``; every fold re-sums it to ``decimal(38,2)``.
def _schema_json(decimal_sum: str) -> str:
    fields = [
        ("k", "string"), ("n_rows", "long"), ("sum_vi", "long"),
        ("sum_vl", "long"), ("sum_vd", "double"), ("sum_vm", decimal_sum),
    ]
    return (
        '{"fields":['
        + ",".join(
            f'{{"metadata":{{}},"name":"{n}","nullable":true,"type":"{t}"}}'
            for n, t in fields
        )
        + '],"type":"struct"}'
    )


_FULL_SCHEMA = _schema_json("decimal(30,2)")
_FOLD_SCHEMA = _schema_json("decimal(38,2)")
_SUMS = ["vi", "vl", "vd", "vm"]
_TYPED_ROWS = (
    "id int, k string, vi int, vl long, vd double, vm decimal(20,2)"
)


def _typed(spark, ids, shift=0):
    """Rows keyed ``id``; ``x = id + shift`` sets the group (NULL when
    ``x`` is a multiple of 5) and the measures. Every double and
    decimal is exact, so any summation order gives the same value."""
    from decimal import Decimal

    return spark.createDataFrame(
        [
            (
                i,
                None if x % 5 == 0 else f"k{x % 3}",
                x,
                x * 10**10,
                x * 0.25,
                Decimal(x) * Decimal("1.25"),
            )
            for i, x in ((i, i + shift) for i in ids)
        ],
        _TYPED_ROWS,
    )


def _typed_prepare(df):
    return df.select("k", *_SUMS)


def _typed_state(rows):
    return sorted(
        (tuple(r) for r in rows), key=lambda t: (str(t[0]), t[1:])
    )


def _typed_full(fact):
    return _typed_state(
        _typed_prepare(fact.read())
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            *[F.sum(c).alias(f"sum_{c}") for c in _SUMS],
        )
        .collect()
    )


def test_unpartitioned_fold_equals_full_recompute(spark, tmp_path):
    """The unpartitioned one-aggregate fold over append, delete, merge
    and delete_mor ranges equals a full recompute at every step, NULL
    group key included, and stores the same schema as before the fold
    became one aggregate. The streaming twin, which folds aggregated
    per-range deltas into the same branch, ends equal as well."""
    from summit_23_snowpark_data_lake_workloads_spark.streaming.cdf_source import (
        maintain_rollup_stream,
    )

    fact = SnapshotTable(spark, str(tmp_path / "fact"))
    rollup = SnapshotTable(spark, str(tmp_path / "roll"))
    fact.create(_typed(spark, range(0, 20)))

    def refresh():
        return refresh_rollup(fact, rollup, _typed_prepare, ["k"], _SUMS)

    assert refresh() == "full"
    assert rollup.read().schema.json() == _FULL_SCHEMA
    assert _typed_state(rollup.read().collect()) == _typed_full(fact)
    steps = [
        ("incremental", lambda: fact.append(_typed(spark, range(20, 32)))),
        ("incremental_cdf", lambda: fact.delete(F.col("id") % 4 == 1)),
        (
            "incremental_cdf",
            # id 4 moves into the NULL group and id 5 out of it; 40
            # and 41 are new rows
            lambda: fact.merge(_typed(spark, [2, 4, 5, 40, 41], 101), ["id"]),
        ),
        ("incremental_cdf", lambda: fact.delete_mor(F.col("id") % 6 == 0)),
    ]
    for mode, commit in steps:
        commit()
        assert refresh() == mode
        assert rollup.read().schema.json() == _FOLD_SCHEMA
        assert _typed_state(rollup.read().collect()) == _typed_full(fact)
    assert any(r.k is None for r in rollup.read().collect())

    silver = SnapshotTable(spark, str(tmp_path / "silver"))
    ranges = maintain_rollup_stream(
        fact, silver, _typed_prepare, ["k"], _SUMS, str(tmp_path / "ckpt")
    )
    assert len(ranges) == len(steps) + 1
    assert silver.read().schema.json() == _FOLD_SCHEMA
    assert _typed_state(silver.read().collect()) == _typed_full(fact)

