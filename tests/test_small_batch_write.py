"""Small unpartitioned batches are written from the driver
(``_write_small_batch``): one Arrow collect and a pyarrow write per
Spark partition instead of a Spark write job. The files must be the
files ``df.write.parquet`` writes — the same count, the same rows in
the same order per partition file, the same Spark schema in the footer
and the same parquet physical types — so every reader, layout and
footer-derived manifest entry is unchanged. Batches outside the gate
still go through Spark, which leaves its ``_SUCCESS`` marker."""

from __future__ import annotations

import json
import os

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
    _SPARK_SCHEMA_KEY,
    ConstraintViolationError,
    SnapshotTable,
)


def _typed(spark, n: int = 200):
    """Every column type the driver path accepts, with NULLs and a NaN,
    from one input partition (so shuffled row order is deterministic)."""
    return spark.range(0, n, 1, 1).select(
        "id",
        (F.col("id") % 3).cast("byte").alias("b"),
        F.col("id").cast("short").alias("s"),
        F.col("id").cast("int").alias("i"),
        (F.col("id") / 4).cast("float").alias("f"),
        F.when(F.col("id") == 3, F.lit(float("nan")))
        .otherwise(F.col("id") * 1.5)
        .alias("d"),
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("str"),
        F.col("id").cast("string").cast("binary").alias("bin"),
        F.expr("date_add(date'2024-01-01', cast(id as int))").alias("dt"),
        F.expr("timestamp_micros(id * 1000003 + 1700000000000000)").alias(
            "ts"
        ),
        (F.col("id") % 2 == 0).alias("flag"),
        F.when(F.col("id") % 7 > 0, F.col("id")).alias("maybe"),
    )


def _files(d: str) -> list[str]:
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def _layout(d: str) -> list[tuple]:
    """Per file: its partition id, its rows in order, the Spark schema
    in its footer and its columns' parquet physical types."""
    out = []
    for f in _files(d):
        pf = pq.ParquetFile(os.path.join(d, f))
        md = pf.metadata
        out.append(
            (
                f.split("-")[1],
                repr(pf.read().to_pylist()),  # repr: NaN equals NaN
                json.loads(md.metadata[_SPARK_SCHEMA_KEY]),
                [
                    (c.name, c.physical_type, c.max_definition_level)
                    for c in (md.schema.column(i) for i in range(md.num_columns))
                ],
            )
        )
    return out


def _batch_dir(t: SnapshotTable) -> str:
    """The batch dir of the table's latest write."""
    newest = max(
        os.scandir(os.path.join(t.path, "data")), key=lambda e: e.stat().st_mtime_ns
    )
    return newest.path


_FRAMES = {
    "scan": lambda df: df,
    "repartition": lambda df: df.repartition(4),
    "range_sorted": lambda df: df.repartitionByRange(3, "i").sortWithinPartitions(
        "i"
    ),
    "empty": lambda df: df.filter(F.col("id") < 0),
}


@pytest.mark.parametrize("shape", sorted(_FRAMES))
def test_driver_write_matches_spark_layout(spark, tmp_path, shape):
    df = _FRAMES[shape](_typed(spark))
    ref = str(tmp_path / "spark")
    df.write.parquet(ref)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(df)
    batch = _batch_dir(t)
    # the driver path: no Hadoop committer, so no _SUCCESS marker
    assert not os.path.exists(os.path.join(batch, "_SUCCESS"))
    assert len(_files(batch)) == len(_files(ref))
    assert _layout(batch) == _layout(ref)
    # Spark and DuckDB read the table as they read Spark's own files
    assert sorted(map(repr, t.read().collect())) == sorted(
        map(repr, spark.read.parquet(ref).collect())
    )
    assert t.read().schema == spark.read.parquet(ref).schema
    live = [os.path.join(t.path, f) for f in t.snapshot().files]
    assert sorted(
        map(repr, duckdb.sql(f"SELECT * FROM read_parquet({live})").fetchall())
    ) == sorted(
        map(
            repr,
            duckdb.sql(f"SELECT * FROM read_parquet('{ref}/*.parquet')").fetchall(),
        )
    )


def test_driver_write_keeps_optimizer_nullability(spark, tmp_path):
    # the analyzed schema says nullable; the optimized plan proves not
    df = spark.range(0, 5, 1, 1).select(
        F.when(F.lit(False), F.lit(None)).otherwise(F.col("id")).alias("y")
    )
    assert df.schema["y"].nullable
    ref = str(tmp_path / "spark")
    df.write.parquet(ref)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(df)
    assert _layout(_batch_dir(t)) == _layout(ref)
    assert _layout(ref)[0][3] == [("y", "INT64", 0)]  # REQUIRED


_FALLBACKS = {
    "decimal": lambda df: df.select(F.col("id").cast("decimal(10,2)")),
    "timestamp_ntz": lambda df: df.select(F.col("ts").cast("timestamp_ntz")),
    "nested": lambda df: df.select(F.array("id", "i").alias("arr")),
    "explode": lambda df: df.select(F.explode(F.array("id", "i")).alias("x")),
    # stats estimated from a plan the optimized plan no longer shows
    "explode_cached": lambda df: df.select(
        F.explode(F.array("id", "i")).alias("x")
    ).cache(),
    "checkpointed": lambda df: df.localCheckpoint(),
}


@pytest.mark.parametrize("shape", sorted(_FALLBACKS))
def test_unsupported_batches_write_through_spark(spark, tmp_path, shape):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_FALLBACKS[shape](_typed(spark, 20)))
    assert os.path.exists(os.path.join(_batch_dir(t), "_SUCCESS"))
    assert t.read().count() == (40 if "explode" in shape else 20)


def test_other_codecs_write_through_spark(spark, tmp_path):
    key = "spark.sql.parquet.compression.codec"
    before = spark.conf.get(key)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    spark.conf.set(key, "zstd")
    try:
        t.create(_typed(spark, 20))
    finally:
        spark.conf.set(key, before)
    assert os.path.exists(os.path.join(_batch_dir(t), "_SUCCESS"))
    assert all(".zstd." in f for f in _files(_batch_dir(t)))


def test_layout_rewrites_write_through_spark(spark, tmp_path):
    # compaction packs scan splits by file byte size: z-order and
    # compaction output keeps parquet-mr's files
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_typed(spark, 200).repartition(4))
    assert not os.path.exists(os.path.join(_batch_dir(t), "_SUCCESS"))
    t.cluster_zorder(["i", "s"], n_files=4)
    assert os.path.exists(os.path.join(_batch_dir(t), "_SUCCESS"))
    t.compact(target_files=2)
    assert os.path.exists(os.path.join(_batch_dir(t), "_SUCCESS"))
    assert t.read().count() == 200


@pytest.mark.parametrize("explode", [False, True])
def test_streamed_batches_gate_on_the_stream_plan(spark, tmp_path, explode):
    """A foreachBatch micro-batch is a LogicalRDD whose size estimate
    ignores an explode upstream of it: the sink checks the stream's
    own plan, and only a bounded stream's batches take the driver
    path."""
    from summit_23_snowpark_data_lake_workloads_spark.streaming.lakehouse_sink import (
        write_stream_to_snapshot_table,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text('{"k": 1, "v": "a"}\n{"k": 2, "v": "b"}\n')
    stream = spark.readStream.schema("k long, v string").json(str(src))
    if explode:
        stream = stream.select(F.explode(F.array("k", "k")).alias("k"), "v")
    t = SnapshotTable(spark, str(tmp_path / "t"))
    write_stream_to_snapshot_table(
        stream, t, "app", str(tmp_path / "ck")
    ).awaitTermination()
    assert os.path.exists(os.path.join(_batch_dir(t), "_SUCCESS")) == explode
    assert t.read().count() == (4 if explode else 2)


def test_batches_above_open_cost_write_through_spark(spark, tmp_path):
    key = "spark.sql.files.openCostInBytes"
    before = spark.conf.get(key)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    spark.conf.set(key, "64")
    try:
        t.create(_typed(spark, 20))
    finally:
        spark.conf.set(key, before)
    assert os.path.exists(os.path.join(_batch_dir(t), "_SUCCESS"))
    t.append(_typed(spark, 20))
    assert not os.path.exists(os.path.join(_batch_dir(t), "_SUCCESS"))
    assert t.read().count() == 40


def test_check_violation_raises_before_any_file(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_typed(spark, 10))
    t.add_constraint("small_id", "id < 100")
    batches = set(os.listdir(os.path.join(t.path, "data")))
    with pytest.raises(ConstraintViolationError):
        t.append(_typed(spark, 200).filter(F.col("id") >= 10))
    assert set(os.listdir(os.path.join(t.path, "data"))) == batches


def test_crash_mid_batch_leaves_table_unchanged(spark, tmp_path, monkeypatch):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(_typed(spark, 10))
    version, rows = t.snapshot().version, t.read().count()
    batches = set(os.listdir(os.path.join(t.path, "data")))
    real, calls = pq.write_table, []

    def failing(*args, **kwargs):
        calls.append(args[1])
        if len(calls) == 2:
            raise OSError("disk gone")
        return real(*args, **kwargs)

    monkeypatch.setattr(pq, "write_table", failing)
    with pytest.raises(OSError, match="disk gone"):
        t.append(_typed(spark, 200).repartition(4))
    monkeypatch.setattr(pq, "write_table", real)
    (partial,) = set(os.listdir(os.path.join(t.path, "data"))) - batches
    # the first file landed, then the write died: nothing was committed
    assert len(_files(os.path.join(t.path, "data", partial))) == 1
    assert t.snapshot().version == version
    assert t.read().count() == rows
    t.vacuum(orphan_grace_ms=0)
    assert set(os.listdir(os.path.join(t.path, "data"))) == batches
