"""Pins for the r16 optimization changes (OPTIMIZATION_r16.md).

Like tests/test_r15_optimizations.py: each change altered an operator's
internals (or added a non-default scale flag) while keeping the default
output byte-identical; these tests pin that equivalence.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _docs(spark):
    from summit_23_snowpark_data_lake_workloads_spark.sources.batch import (
        read_table,
    )

    return read_table(spark, SF, "documents")


def test_hash_shingle_keys_flag_default_off(monkeypatch):
    from summit_23_snowpark_data_lake_workloads_spark.operators.dedup import (
        hash_shingle_keys_enabled,
    )

    monkeypatch.delenv("SPARK_GRAFT_HASH_SHINGLE_KEYS", raising=False)
    assert hash_shingle_keys_enabled() is False


def test_hash_shingle_keys_flag_matches_exact(spark, monkeypatch):
    """The flagged 8-byte-key plan computes pair-identical results to
    the exact string-key plan whenever the corpus has zero 64-bit
    shingle-hash collisions (which the audit proves for this corpus)."""
    from summit_23_snowpark_data_lake_workloads_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_hash_collision_audit,
    )

    docs = _docs(spark)
    audit = shingle_hash_collision_audit(docs, "doc_id", "text", n=3).collect()[0]
    assert audit["collisions"] == 0
    assert audit["n_distinct_shingles"] == audit["n_distinct_hashes"]

    exact = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    monkeypatch.setenv("SPARK_GRAFT_HASH_SHINGLE_KEYS", "1")
    hashed = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    assert hashed.exceptAll(exact).count() == 0
    assert exact.exceptAll(hashed).count() == 0


def test_hash_shingle_keys_flag_narrows_join_key(spark, monkeypatch):
    """With the flag on, the shuffle key flowing into the intersection
    self-join is an 8-byte long, not the shingle string."""
    from summit_23_snowpark_data_lake_workloads_spark.operators.dedup import (
        _narrow_shingle_keys,
        shingle_table,
    )

    sh = shingle_table(_docs(spark), "doc_id", "text", n=3)
    assert dict(_narrow_shingle_keys(sh).dtypes)["shingle"] == "string"
    monkeypatch.setenv("SPARK_GRAFT_HASH_SHINGLE_KEYS", "1")
    assert dict(_narrow_shingle_keys(sh).dtypes)["shingle"] == "bigint"


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
