"""Pins for the r16 optimization changes (OPTIMIZATION_r16.md).

Like tests/test_r15_optimizations.py: each change altered an operator's
internals while keeping the output byte-identical; these tests pin
that equivalence.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _docs(spark):
    from summit_23_snowpark_data_lake_workloads_spark.sources.batch import (
        read_table,
    )

    return read_table(spark, SF, "documents")


def test_bpe_fused_loop_merge_table_unchanged(spark):
    """The r16 one-job-per-iteration trainer learns exactly the merges
    the pre-r16 two-job loop learned (pair statistics are computed by
    the same plan; only cache-materialization scheduling changed)."""
    from summit_23_snowpark_data_lake_workloads_spark.operators.tokenizer import (
        learn_bpe_merges,
        word_symbol_table,
        _canonical,
        _pair_counts,
    )

    docs = _docs(spark).limit(200)
    got = [tuple(r) for r in learn_bpe_merges(spark, docs, k=4).collect()]

    # reference: the pre-r16 formulation, materializing every generation
    words = word_symbol_table(docs, "text")
    expect = []
    for rank in range(1, 5):
        best = _pair_counts(words).orderBy(F.desc("f"), F.asc("pair")).limit(1).collect()
        if not best:
            break
        pair, freq = best[0]["pair"], int(best[0]["f"])
        a, b = pair.split(" ")
        expect.append((rank, a, b, a + b, freq))
        replaced = F.replace(F.col("s"), F.lit(f" {a}  {b} "), F.lit(f" {a + b} "))
        words = words.select(
            "word", "freq", _canonical(F.split(F.trim(replaced), " +")).alias("s")
        )
    assert got == expect
