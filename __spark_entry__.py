"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` / ``oracle_sql()`` expose the full declared workload from
``summit_23_snowpark_data_lake_workloads_spark.plans.queries`` for the
driver's DuckDB differential-correctness gate at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import json
import pathlib
import re

from summit_23_snowpark_data_lake_workloads_spark.plans.queries import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q5_region_revenue"](spark, "/root/testdata/sf0.001")


#: Queries whose PLAN changed materially since their last green gate
#: row (shared-cache reroutes, determinism ports, oracle rewrites),
#: mapped to the round the change landed in. Each is promoted to the
#: front of the gate window until a green row from that round or later
#: exists — then the entry expires AUTOMATICALLY (no manual cleanup;
#: a stale force would otherwise pin window slots forever).
#: Round 7: charlm avg_logprob moved to the decimal-exact
#: order-invariant sum (pipeline_v2 composes it); IVF moved to top-2
#: candidate multi-assignment (plans and oracles both changed).
#: Round 8: the LSH mega-bucket star guard became opt-in
#: (``max_bucket=None`` default), removing the window-sizing branch
#: from both MinHash pair plans (results identical below the cap, but
#: the executed plan changed).
#: Exemption note (r15 judge ADVICE): "the executed plan changed" means
#: the plan's OPERATOR/EXPRESSION shape — storage-level-only deltas
#: (e.g. the r15 serialized CACHE_LEVEL changing every InMemoryRelation's
#: level) are exempt from forcing, because a storage level cannot change
#: results; the ~2-round stale-green rotation re-greens every persisting
#: query on the new level anyway (and r15 additionally ran the full
#: 192/192 differential after the level change).
FORCE_REGATE: dict[str, int] = {
    # r15 entries (dedup_minhash_lsh, dedup_minhash_prefilter,
    # minhash_index_probe_audit, tfidf_topk, doc_chunk_windows) all
    # expired automatically — green rows exist in CORRECTNESS_r15 —
    # and were pruned.
    # r17: an unpartitioned rollup refresh is one aggregate over the
    # stored rollup and the delta's per-row measures (no key broadcast,
    # no pre-aggregated delta); every audit that reaches that branch
    # re-gates. The two partitioned-rollup audits keep their
    # partition-local fold, but their full refresh and delta
    # pre-aggregate now sum per-row measures (sum(1) where count(1)
    # was), so they re-gate too.
    "streaming_cdf_silver_audit": 17,
    "lakehouse_dedup_retention_audit": 17,
    "lakehouse_txn_medallion_audit": 17,
    "streaming_txn_chain_audit": 17,
    "lakehouse_catalog_branch_audit": 17,
    "lakehouse_incremental_rollup_audit": 17,
    "medallion_incremental_audit": 17,
    # r17: the change-feed streams run the batch refreshes per drained
    # range (the replica stream's first range is now a pinned full
    # resync, not a netted create), and a compact-only range is a
    # stamp with no feed read.
    "streaming_cdc_replica_audit": 17,
    "lakehouse_cdc_replication_audit": 17,
    # r16: the BPE trainer fused cache materialization into the argmax
    # job (one job per iteration, byte-identical merge table — pinned
    # in tests/test_r16_optimizations.py).
    "bpe_learn_merges": 16,
    "bpe_artifact_encode_audit": 16,
}

#: Queries registered AFTER this round's gate-slot budget was spent.
#: The r10 verdict's #1 priority: rotate the 34-query r7-stale tier,
#: which fits the 50-row window only if new+forced entries stay at 16
#: — already exactly full. Rather than silently bumping stale greens
#: out of the window, these late registrations sort BEHIND every
#: green-tier query until the named round's CORRECTNESS file exists,
#: then expire automatically into tier-0 (never-gated) for the next
#: round. They are still covered THIS round by the full pytest
#: differential (tests/test_queries_oracle.py runs every declared
#: query against DuckDB).
DEFER_GATE: dict[str, int] = {
    # The r14 entry (lakehouse_delta_export_audit) expired into
    # tier-0 when CORRECTNESS_r14 landed — it heads the r15 window as
    # the only never-gated query — and was pruned. r15 registers no
    # new queries (the round's new surface extends that audit by
    # flags, at zero slot cost while it has no green row yet).
}


def _gate_priority_order() -> list[str]:
    """Order queries so the driver's 50-row correctness gate rotates
    stalest-green-first.

    The driver records the first N queries in ``queries()`` order each
    round. Green rows rot when the environment shifts (round 3: a
    testdata regeneration silently broke two queries hiding behind
    r1/r2 greens), so every query must re-prove on the CURRENT
    environment within ~2 rounds. Priority tiers:

    1. never gated, last gate row was red/error (least-verified), or
       force-regated because this round's diff changed the plan;
    2. green rows, oldest green round first.

    Registration order breaks ties inside each tier.
    """
    return _gate_order_from(pathlib.Path(__file__).resolve().parent, list(QUERIES))


def _gate_order_from(history_dir: "pathlib.Path", names: list[str]) -> list[str]:
    """Testable core of :func:`_gate_priority_order`: order ``names`` by
    the CORRECTNESS_r*.json history found in ``history_dir``."""
    last_green: dict[str, int] = {}
    last_any: dict[str, int] = {}
    max_round = 0
    for f in sorted(history_dir.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", f.name)
        rnd = int(m.group(1)) if m else 0
        max_round = max(max_round, rnd)
        try:
            rows = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            last_any[name] = max(last_any.get(name, 0), rnd)
            green = isinstance(row, dict) and all(
                row.get(k) is True
                for k in ("rows_match", "schema_match", "hash_match")
            )
            # weaker rows-only checks (no oracle) record rows_match only
            if isinstance(row, dict) and row.get("hash_match") is None:
                green = row.get("rows_match") is True
            if green:
                last_green[name] = max(last_green.get(name, 0), rnd)

    def key(n: str) -> tuple[int, int]:
        if DEFER_GATE.get(n, 0) > max_round:
            # late registration in the CURRENT round: hold behind the
            # stale-green rotation until this round's gate has run,
            # then fall through to tier-0 as never-gated
            return (2, names.index(n))
        forced = last_green.get(n, -1) < FORCE_REGATE.get(n, -1)
        if forced or n not in last_any or last_any[n] > last_green.get(n, -1):
            # never gated, last row not green, or plan changed and no
            # green row from the changed code exists yet
            return (0, names.index(n))
        return (1, last_green[n] * 10_000 + names.index(n))

    return sorted(names, key=key)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: QUERIES[n] for n in _gate_priority_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each oracle-checkable query."""
    return dict(ORACLES)
