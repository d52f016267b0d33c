"""``stream_ingest``: the paper's Snowpipe-Streaming -> dynamic table ->
dashboard path, one closed-loop tick at a time.

A tick lands one JSON-lines file of transaction messages, drains it
into the bronze lakehouse table with an availableNow streaming query,
folds bronze into silver and gold in one catalog transaction and reads
gold the way a dashboard would. Many tiny commits on a growing history
make lakehouse metadata cost show; the dedup and PDF layers are never
touched.
"""

from __future__ import annotations

import os
import time
from decimal import Decimal

from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.plans.txn_refresh import (
    RollupSpec,
    refresh_medallion_txn,
)
from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import SnapshotTable
from summit_23_snowpark_data_lake_workloads_spark.sources.txn_catalog import PinnedCatalog
from summit_23_snowpark_data_lake_workloads_spark.streaming.ingest import (
    parse_txn_stream,
    read_json_file_stream,
)
from summit_23_snowpark_data_lake_workloads_spark.streaming.lakehouse_sink import (
    write_stream_to_snapshot_table,
)

from .. import inputs
from ..stats import median
from . import Sample

#: silver: per payment method and product; gold: per payment method.
#: Money is carried in integer cents so every sum is exact.
SILVER = RollupSpec(
    prepare=lambda df: df.select(
        "PAYMENT_METHOD",
        "PRODUCT_ID",
        F.col("TXN_QUANTITY").cast("long").alias("qty"),
        (F.col("TXN_QUANTITY") * F.col("PRODUCT_UNIT_PRICE").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    ),
    group_cols=["PAYMENT_METHOD", "PRODUCT_ID"],
    sum_cols=["qty", "cents"],
)
GOLD = RollupSpec(
    prepare=lambda df: df.select(
        "PAYMENT_METHOD",
        F.col("n_rows").alias("n"),
        F.col("sum_qty").alias("qty"),
        F.col("sum_cents").alias("cents"),
    ),
    group_cols=["PAYMENT_METHOD"],
    sum_cols=["n", "qty", "cents"],
)


class StreamIngest:
    name = "stream_ingest"
    #: ticks before timing starts; they also set the starting history depth
    warmup_ops = 5
    nominal_op_s = 1.6
    #: per-layer time metric -> span name
    spans = {
        "lakehouse.append_s": "lakehouse.append",
        "lakehouse.table_schema_s": "lakehouse.table_schema",
        "lakehouse.last_committed_batch_s": "lakehouse.last_committed_batch",
        "sink.drain_s": "sink.drain",
        "txn_refresh.tick_s": "txn_refresh.tick",
        "txn_catalog.read_s": "txn_catalog.read",
    }

    def setup(self, ctx) -> None:
        root = ctx.scratch
        self.src = os.path.join(root, "landing")
        os.makedirs(self.src)
        self.checkpoint = os.path.join(root, "checkpoint")
        self.pop = inputs.stream_population(ctx.seed)
        self.bronze = SnapshotTable(ctx.spark, os.path.join(root, "bronze"))
        for attr in ("append", "table_schema", "last_committed_batch"):
            ctx.tracer.wrap(self.bronze, attr, f"lakehouse.{attr}")
        self.catalog = PinnedCatalog(ctx.spark, os.path.join(root, "catalog"))
        self.catalog.register("silver", os.path.join(root, "silver"))
        self.catalog.register("gold", os.path.join(root, "gold"))
        self.sent = 0
        #: expected gold, per payment method: [rows, quantity, cents]
        self.expected: dict[str, list] = {}
        self.modes: dict[int, tuple[str, str]] = {}

    def op(self, ctx, i: int) -> Sample:
        tr, spark = ctx.tracer, ctx.spark
        msgs = inputs.land_stream_tick(self.src, self.pop, ctx.seed, i)
        t0 = time.perf_counter()
        with tr.span("sink.drain"):
            query = write_stream_to_snapshot_table(
                parse_txn_stream(read_json_file_stream(spark, self.src)),
                self.bronze,
                app_id="bench_ingest",
                checkpoint=self.checkpoint,
            )
            query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"stream drain failed: {query.exception()}")
        with tr.span("txn_refresh.tick"):
            modes = refresh_medallion_txn(
                self.catalog, self.bronze, "silver", "gold", SILVER, GOLD
            )
        with tr.span("txn_catalog.read"):
            gold = self.catalog.read("gold").collect()
        done_wall, busy = time.time(), time.perf_counter() - t0
        self.modes[i] = (modes["silver"], modes["gold"])
        freshness = median([done_wall - m["created_at"] for m in msgs])
        return Sample(latency_s=freshness, busy_s=busy, rows=len(msgs), payload=(msgs, gold))

    def check(self, ctx, sample: Sample) -> bool:
        msgs, gold = sample.payload
        self.sent += len(msgs)
        for m in msgs:
            e = self.expected.setdefault(m["payment_method"], [0, 0, 0])
            e[0] += 1
            e[1] += m["txn_quantity"]
            e[2] += int(m["txn_quantity"] * Decimal(str(m["product_unit_price"])) * 100)
        got = {r.PAYMENT_METHOD: [r.sum_n, r.sum_qty, r.sum_cents] for r in gold}
        return got == self.expected

    def finish(self, ctx) -> bool:
        # exactly-once: every message sent landed in bronze once
        return self.bronze.read().count() == self.sent

    def layer_metrics(self, ctx, measured: list[int]) -> dict:
        snap = self.bronze.snapshot()
        modes = [m for i in measured if i in self.modes for m in self.modes[i]]
        return {
            "lakehouse.versions": snap.version,
            "lakehouse.live_files": len(snap.files),
            # share of layer refreshes that folded only the new commits
            "rollup.incremental_frac": sum(m.startswith("incremental") for m in modes)
            / max(1, len(modes)),
        }
