"""The corpus dedup pass that closes every ``medallion_batch`` cycle.

A pass runs the registered queries ``dedup_ngram_jaccard``,
``dedup_minhash_lsh`` and ``dedup_clusters`` over a seeded corpus and
materializes each into the ``noop`` sink: read-only, shuffle-heavy
similarity joins with no commits, which ``stream_ingest`` never reaches.
The first pass collects its results instead; ``check`` compares them
with the queries' DuckDB oracles over the same corpus file.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from summit_23_snowpark_data_lake_workloads_spark.cache import release_caches
from summit_23_snowpark_data_lake_workloads_spark.plans.queries import ORACLES, QUERIES
from tests.oracle_utils import canonical

from .. import inputs

#: query -> span name
PASS = {
    "dedup_ngram_jaccard": "dedup.ngram_jaccard",
    "dedup_minhash_lsh": "dedup.minhash_lsh",
    "dedup_clusters": "dedup.clusters",
}
SPANS = {f"{span}_s": span for span in PASS.values()}


class DedupPass:
    def __init__(self, ctx):
        self.sf_dir = os.path.join(ctx.scratch, "corpus")
        self.docs = len(inputs.write_corpus(self.sf_dir, ctx.seed))
        self.results: dict = {}

    def run(self, ctx) -> None:
        spark, tr = ctx.spark, ctx.tracer
        collect = not self.results
        for q, span in PASS.items():
            with tr.span(span):
                df = QUERIES[q](spark, self.sf_dir)
                if collect:
                    self.results[q] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
                release_caches()

    def check(self) -> bool:
        """Each query's collected result equals its DuckDB oracle over the
        same corpus file."""
        con = duckdb.connect()
        try:
            path = os.path.join(self.sf_dir, "documents.parquet")
            con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            for q, got in self.results.items():
                try:
                    # the repo's differential-test comparison
                    pd.testing.assert_frame_equal(
                        canonical(got),
                        canonical(con.sql(ORACLES[q]).df()),
                        check_dtype=False,
                        check_exact=False,
                        rtol=1e-9,
                        atol=1e-9,
                    )
                except AssertionError:
                    return False
        finally:
            con.close()
        return len(self.results) == len(PASS)

    def pairs_out(self) -> int:
        return len(self.results.get("dedup_ngram_jaccard", ()))
