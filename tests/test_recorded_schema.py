"""Recorded batch schemas (``Snapshot.schemas``): a scan folds the
schema its files carry from the manifest instead of running Spark's
footer-merge job. The model test drives random operation sequences and
checks at every step that the folded schema equals Spark's own
mergeSchema inference over the live files, and that ``read()`` returns
the rows the footer path returns; the others pin the fold's merge
rules and the two footer fallbacks (manifests without recorded schemas,
and a conflict)."""

from __future__ import annotations

import json
import os
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
    _MANIFEST_DIR,
    SnapshotTable,
    _merged_schema,
    _recorded_schema,
)

from .conftest import RUN_SLOW

#: how each column kind is generated from ``x`` (the row id, or a
#: nullable copy of it for nested values)
_KINDS = {
    "id": lambda x: F.col("id").cast("int"),
    "p": lambda x: (F.col("id") % 2).cast("int"),
    "v": lambda x: F.col("id") * 1.5,
    "st": lambda x: F.struct(x.alias("x")),
    "m": lambda x: F.create_map(F.lit("k"), x.cast("int")),
    "arr": lambda x: F.array(x.cast("int")),
    "str": lambda x: F.concat(F.lit("s"), F.col("id").cast("string")),
}


def _frame(
    spark, kinds: dict, names: list[str], lo: int, n: int = 6, strict=False
):
    """Rows ``lo..lo+n`` with columns ``names``. Every column is written
    non-nullable, and ``v`` carries field metadata. Struct fields,
    array elements and map values are non-nullable too when
    ``strict`` (appends need them nullable: ``_validate_write_schema``
    counts nested nullability as a type change)."""
    x = F.col("id") if strict else F.when(F.col("id") >= 0, F.col("id"))
    return spark.range(lo, lo + n, numPartitions=2).select(
        *[
            _KINDS[kinds[c]](x).alias(
                c, metadata={"comment": c} if kinds[c] == "v" else {}
            )
            for c in names
        ]
    )


def _check(spark, t: SnapshotTable, recorded: bool = True) -> None:
    """The folded schema (None when some live batch has no recorded
    schema) against Spark's footer merge, and ``read()`` against the
    footer path's scan of the same files."""
    snap = t.snapshot()
    paths = [os.path.join(t.path, f) for f in snap.files]
    folded = _recorded_schema(snap.files, paths, snap.schemas)
    footer = spark.read.option("mergeSchema", "true").parquet(*paths).schema
    if recorded:
        # .json() compares field order, nullability and metadata
        assert folded is not None and folded.json() == footer.json()
    else:
        assert folded is None
    fast, slow = t.read(), t._scan(snap.files, snap.dvs, None)
    assert fast.schema.json() == slow.schema.json()
    assert t.table_schema().json() == fast.schema.json()
    assert sorted(map(str, fast.collect())) == sorted(map(str, slow.collect()))


_OPS = [
    "append", "evolve", "overwrite", "overwrite_partitions", "rename",
    "drop", "readd", "rollback", "compact", "vacuum", "delete_mor", "clone",
]


@settings(
    max_examples=40 if RUN_SLOW else 2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    partitioned=st.booleans(),
    ops=st.lists(
        st.tuples(st.sampled_from(_OPS), st.integers(0, 999)),
        min_size=3,
        max_size=10 if RUN_SLOW else 5,
    ),
)
def test_recorded_schema_matches_footer_merge(
    spark, tmp_path_factory, partitioned, ops
):
    root = tmp_path_factory.mktemp("schema_model")
    kinds = {c: c for c in ("id", "p", "v", "st", "m", "arr")}
    t = SnapshotTable(
        spark, str(root / "t0"), partition_by=["p"] if partitioned else None
    )
    t.create(_frame(spark, kinds, list(kinds), 0, strict=True))
    _check(spark, t)
    fresh = iter(range(1, 1000))
    for step, (op, k) in enumerate(ops):
        cols = t.table_schema().fieldNames()
        # renamable / droppable: anything but the id and partition source
        free = [c for c in cols if kinds[c] not in ("id", "p")]
        lo = 10 * (step + 1)
        if op == "append":
            t.append(_frame(spark, kinds, cols, lo))
        elif op == "evolve":
            # a new column, plus any re-added name still without data
            new = [c for c in t.column_map if c not in cols]
            name = f"e{next(fresh)}"
            kinds[name] = "str"
            for c in new:
                kinds[c] = "str"
            t.append(
                _frame(spark, kinds, cols + new + [name], lo),
                schema_evolution=True,
            )
        elif op == "overwrite":
            t.overwrite(_frame(spark, kinds, cols, lo))
        elif op == "overwrite_partitions" and partitioned:
            t.overwrite_partitions(_frame(spark, kinds, cols, lo, 3))
        elif op == "rename" and free:
            old, new = free[k % len(free)], f"r{next(fresh)}"
            kinds[new] = kinds[old]
            t.rename_column(old, new)
        elif op == "drop" and free:
            t.drop_column(free[k % len(free)])
        elif op == "readd":
            reserved = sorted(
                (set(t.column_map.values()) - set(t.column_map))
                | set(t.dropped_cols)
            )
            if reserved and reserved[k % len(reserved)] not in cols:
                t.readd_column(reserved[k % len(reserved)])
        elif op == "rollback" and len(t._versions()) > 1:
            versions = t._versions()[:-1]
            t.rollback(versions[k % len(versions)])
        elif op == "compact":
            t.compact(target_files=2)
        elif op == "vacuum":
            t.vacuum(retain_last=2, orphan_grace_ms=0)
        elif op == "delete_mor":
            # ids divisible by 3 stay, so the table never empties
            idc = F.col([c for c in cols if kinds[c] == "id"][0])
            t.delete_mor(idc % 3 == 1 + k % 2)
        elif op == "clone":
            t = t.clone_to(str(root / f"t{step + 1}"))
        _check(spark, t)


@pytest.mark.parametrize("partitioned", [False, True])
def test_table_schema_equals_read_schema(spark, tmp_path, partitioned):
    """``table_schema`` folds the recorded schemas on the driver; at
    every version it must be the schema ``read`` plans, through
    evolution, a rename, a drop, a re-add, a rollback and time travel
    (which reads an old version through today's column map)."""
    kinds = {c: c for c in ("id", "p", "v", "st", "str")}
    t = SnapshotTable(
        spark, str(tmp_path / "t"), partition_by=["p"] if partitioned else None
    )
    t.create(_frame(spark, kinds, ["id", "p", "v", "st"], 0))
    t.append(
        _frame(spark, kinds, ["id", "p", "v", "st", "str"], 10),
        schema_evolution=True,
    )
    t.rename_column("v", "price")
    t.drop_column("st")
    t.readd_column("st")
    kinds.update(price="v", st="str")
    t.append(
        _frame(spark, kinds, ["id", "p", "price", "str", "st"], 20),
        schema_evolution=True,
    )
    t.rollback(2)
    for v in t._versions():
        want = t.read(version=v).schema
        assert t.table_schema(version=v).json() == want.json(), v
    assert t.table_schema() == t.read().schema


def test_merge_rules_follow_sparks_footer_merge():
    def schema(*fields):
        return json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": n, "type": ty, "nullable": False, "metadata": md}
                    for n, ty, md in fields
                ],
            },
            sort_keys=True,
        )

    ac = schema(("a", "long", {"c": 1}), ("c", "string", {}))
    ab = schema(("a", "long", {}), ("b", "string", {}))
    merged = _merged_schema([ac, ab])
    # left fields first, new right fields appended, left metadata kept,
    # everything nullable as a parquet scan reports it
    assert merged.fieldNames() == ["a", "c", "b"]
    assert merged["a"].metadata == {"c": 1}
    assert all(f.nullable for f in merged.fields)
    # type changes, decimal widening and case-only name clashes are
    # left to Spark's own footer merge
    assert _merged_schema([ab, schema(("a", "int", {}))]) is None
    assert (
        _merged_schema(
            [schema(("d", "decimal(5,2)", {})), schema(("d", "decimal(7,2)", {}))]
        )
        is None
    )
    assert _merged_schema([ab, schema(("A", "long", {}))]) is None


def _strip_recorded_schemas(path: str) -> None:
    """Rewrite every manifest and shard as a table written before
    schemas were recorded would have it."""
    mdir = os.path.join(path, _MANIFEST_DIR)
    for root, _dirs, names in os.walk(mdir):
        for name in names:
            if not name.endswith(".json") or root != mdir and "shards" not in root:
                continue
            p = os.path.join(root, name)
            with open(p) as fh:
                body = json.load(fh)
            for key in ("schemas", "add_schemas", "schema_defs"):
                body.pop(key, None)
            with open(p, "w") as fh:
                json.dump(body, fh)


def test_manifests_without_schemas_read_through_footers(spark, tmp_path):
    kinds = {c: c for c in ("id", "p", "v", "st", "m", "arr", "str")}
    path = str(tmp_path / "t")
    t = SnapshotTable(spark, path, partition_by=["p"])
    t.create(_frame(spark, kinds, ["id", "p", "v", "st"], 0))
    t.append(
        _frame(spark, kinds, ["id", "p", "v", "st", "m", "arr", "str"], 10),
        schema_evolution=True,
    )
    t.rename_column("v", "price")
    t.delete_mor(F.col("id") % 4 == 0)
    want = t.read()
    want_schema, want_rows = want.schema.json(), sorted(map(str, want.collect()))
    _strip_recorded_schemas(path)

    old = SnapshotTable(spark, path)
    assert old.snapshot().schemas == {}
    sc = spark.sparkContext
    sc.setJobGroup("footer_fallback", "footer_fallback")
    try:
        got = old.read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # planned through Spark's footer merge: its one inference job
    assert len(sc.statusTracker().getJobIdsForGroup("footer_fallback")) == 1
    assert got.schema.json() == want_schema
    assert sorted(map(str, got.collect())) == want_rows
    # a later commit records its own batch only; older batches still
    # plan through the footers, with the same result
    kinds["price"] = "v"
    old.append(
        _frame(spark, kinds, ["id", "p", "price", "st", "m", "arr", "str"], 20)
    )
    assert len(old.snapshot().schemas) == 1
    _check(spark, old, recorded=False)


def test_conflicting_schemas_raise_sparks_own_error(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(spark.range(3).select(F.col("id").cast("int"), F.col("id") * 1.5))
    # a batch whose column changed type, committed past the write check
    flipped = spark.range(3).select(
        F.col("id").cast("int"), F.lit("x").alias("(id * 1.5)")
    )
    t._commit("append", 1, t._write_batch(flipped))
    snap = t.snapshot()
    paths = [os.path.join(t.path, f) for f in snap.files]
    assert len(snap.schemas) == 2
    assert _recorded_schema(snap.files, paths, snap.schemas) is None
    with pytest.raises(Exception) as footer:
        spark.read.option("mergeSchema", "true").parquet(*paths)
    with pytest.raises(Exception) as fast:
        t.read()
    # the same error, up to the py4j object id in its first line
    assert type(fast.value) is type(footer.value)
    assert re.sub(r"o\d+\.", "", str(fast.value)) == re.sub(
        r"o\d+\.", "", str(footer.value)
    )
