"""``medallion_batch``: the paper's batch Ingest -> Curate -> Consume path,
one closed-loop cycle at a time.

A cycle lands a seeded slice of the four batch feeds, loads them with
the batch readers and the PDF text UDF, applies the slice's customer
changes to a lakehouse customer table (MERGE for updates and inserts,
merge-on-read DELETE for erasures), runs the reference task DAG, serves
both consume apps once and ends with one corpus dedup pass
(``dedup_pass``). A few large writes, row-level DML, a Python UDF,
join-heavy curation and shuffle-heavy similarity joins: lakehouse
metadata cost barely shows here.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from summit_23_snowpark_data_lake_workloads_spark.apps.recommendation import (
    recommendations_frame,
)
from summit_23_snowpark_data_lake_workloads_spark.apps.unpaid_invoices import (
    overdue_invoices,
)
from summit_23_snowpark_data_lake_workloads_spark.operators.unstructured import (
    extract_pdf_text,
)
from summit_23_snowpark_data_lake_workloads_spark.plans import medallion
from summit_23_snowpark_data_lake_workloads_spark.plans.dag import run_dag
from summit_23_snowpark_data_lake_workloads_spark.sources import batch
from summit_23_snowpark_data_lake_workloads_spark.sources.catalog import (
    bootstrap_catalog,
    save_table,
)
from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import SnapshotTable
from tests.fixtures import oracle_parse_invoice, oracle_standardize

from .. import inputs
from ..stats import median
from . import Sample
from .dedup_pass import SPANS as DEDUP_SPANS
from .dedup_pass import DedupPass

STEP_SPANS = {
    "CUSTOMER_PROCESSED": "medallion.customer_step",
    "INVOICE_PROCESSED": "medallion.invoice_step",
    "SALES_ENRICH_CURATED": "medallion.sales_enrich_step",
}


class MedallionBatch:
    name = "medallion_batch"
    warmup_ops = 1
    nominal_op_s = 9.0
    spans = {
        "lakehouse.merge_s": "lakehouse.merge",
        "lakehouse.delete_mor_s": "lakehouse.delete_mor",
        "batch.ingest_s": "batch.ingest",
        "unstructured.extract_pdf_text_s": "unstructured.extract_pdf_text",
        "medallion.customer_step_s": "medallion.customer_step",
        "medallion.invoice_step_s": "medallion.invoice_step",
        "medallion.sales_enrich_step_s": "medallion.sales_enrich_step",
        "catalog.save_table_s": "catalog.save_table",
        "apps.overdue_invoices_s": "apps.overdue_invoices",
        "apps.recommendations_s": "apps.recommendations",
        **DEDUP_SPANS,
    }

    def setup(self, ctx) -> None:
        spark, tr = ctx.spark, ctx.tracer
        bootstrap_catalog(spark)
        self.landing = os.path.join(ctx.scratch, "landing")
        self.customers = {c["CUSTOMER_ID"]: c for c in inputs.base_customers(ctx.seed)}
        self.table = SnapshotTable(spark, os.path.join(ctx.scratch, "customer"))
        self.table.create(spark.createDataFrame(list(self.customers.values())))
        self.steps = medallion.reference_dag()
        self.dedup = DedupPass(ctx)
        for step in self.steps:
            tr.wrap(step, "fn", STEP_SPANS[step.name])
        self.tracer = tr
        if tr.enabled:
            # the DAG steps call the catalog sink through their module global
            medallion.save_table = self.save
        self.rewritten: dict[int, int] = {}
        self.pdf_rate: dict[int, float] = {}

    def save(self, df, name: str) -> None:
        with self.tracer.span("catalog.save_table"):
            save_table(df, name)

    def op(self, ctx, i: int) -> Sample:
        spark, tr = ctx.spark, ctx.tracer
        sl = inputs.land_batch_slice(self.landing, self.customers, ctx.seed, i)
        before = self.table.snapshot()
        t0 = time.perf_counter()
        with tr.span("lakehouse.merge"):
            changes = batch.read_parquet_by_name(
                spark, os.path.join(sl.dir, "customer.parquet"), inputs.CUSTOMER_COLUMNS
            )
            self.table.merge(changes, ["CUSTOMER_ID"])
        with tr.span("lakehouse.delete_mor"):
            after = self.table.delete_mor(F.col("CUSTOMER_ID").isin(sl.erased))
        with tr.span("batch.ingest"):
            self.save(self.table.read(), "raw.customer")
            self.save(
                batch.read_json_sampled(spark, os.path.join(sl.dir, "txn_history.json.gz")),
                "raw.txn_history",
            )
            self.save(
                batch.read_parquet_by_name(
                    spark, os.path.join(sl.dir, "product_feed.parquet"), list(sl.feed[0])
                ),
                "raw.product_views_and_purchases",
            )
        with tr.span("unstructured.extract_pdf_text") as s:
            pdfs = batch.read_binary_dir(spark, os.path.join(sl.dir, "invoices"), glob="*.pdf")
            self.save(extract_pdf_text(pdfs), "raw.pdf_raw_text")
        if s is not None:
            self.pdf_rate[i] = len(sl.invoices) / max(s.duration, 1e-9)
        run_dag(spark, self.steps)
        with tr.span("apps.overdue_invoices"):
            overdue = overdue_invoices(
                spark.table("processed.invoice_details"), spark.table("processed.customer")
            ).collect()
        with tr.span("apps.recommendations"):
            recs = recommendations_frame(
                spark.table("curated.product_sales"),
                spark.table("raw.product_views_and_purchases"),
                n_customers=50,
                min_purchases=3,
            )
        self.dedup.run(ctx)
        cycle = time.perf_counter() - t0
        self.rewritten[i] = len(set(before.files) - set(after.files))
        rows = sl.rows + self.dedup.docs
        return Sample(latency_s=cycle, busy_s=cycle, rows=rows, payload=(sl, overdue, recs))

    def check(self, ctx, sample: Sample) -> bool:
        sl, overdue, recs = sample.payload
        for c in sl.changes:
            self.customers[c["CUSTOMER_ID"]] = c
        for cid in sl.erased:
            del self.customers[cid]
        spark = ctx.spark
        want_cust = _rowset(oracle_standardize(c) for c in self.customers.values())
        got_cust = _rowset(r.asDict() for r in spark.table("processed.customer").collect())
        want_inv = [oracle_parse_invoice(t) for t in sl.invoices]
        got_inv = _rowset(
            {k: r[k] for k in want_inv[0]}
            for r in spark.table("processed.invoice_details").collect()
        )
        return (
            got_cust == want_cust
            and got_inv == _rowset(want_inv)
            and len(overdue) > 0
            and len(recs) > 0
        )

    def finish(self, ctx) -> bool:
        return self.dedup.check()

    def layer_metrics(self, ctx, measured: list[int]) -> dict:
        rates = [self.pdf_rate[i] for i in measured if i in self.pdf_rate]
        return {
            "lakehouse.versions": self.table.snapshot().version,
            "lakehouse.live_files": len(self.table.snapshot().files),
            "lakehouse.files_rewritten": sum(self.rewritten.get(i, 0) for i in measured)
            / max(1, len(measured)),
            "unstructured.pdfs_per_s": median(rates) if rates else 0.0,
            "dedup.pairs_out": self.dedup.pairs_out(),
        }


def _rowset(rows) -> frozenset:
    return frozenset(tuple(sorted(r.items())) for r in rows)
