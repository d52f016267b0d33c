"""Incrementally-maintained rollup tables over the lakehouse — the
reference's Processed-layer dynamic table (the architecture diagram's
declarative incremental materialization) as the manifest-driven refresh
a scheduled task DAG runs. It is the one implementation: the
change-feed stream (``streaming/cdf_source.py``) runs this same refresh
once per drained commit range, pinned ``through`` the range's upper
version; ``streaming/incremental.py`` is the Structured-Streaming form
over a source stream.

The 100 TB shape: a refresh reads ONLY what changed since the last
refresh. For an append-only range that is the appended files
(recovered from the commit manifests — metadata, not a table diff);
for a range containing row-level DELETE/MERGE commits it is the
CHANGE DATA FEED (``SnapshotTable.changes``): inserts fold in with
``+``, deletes RETRACT with ``-`` — both read O(files the commits
touched) and rewrite only the rollup partitions the delta touches
(``overwrite_partitions`` carries every other partition by
reference). Refresh cost is O(changed data + touched partitions),
never O(fact table) — a nightly 1 TB append (or a GDPR delete of one
user's rows) against a 100 TB fact refreshes from the commit's own
footprint. An unpartitioned rollup is rewritten whole, in ONE
aggregate over the stored rollup and the delta's per-row measures
(the summary-delta refresh of Mumick, Quass & Mumick, SIGMOD 1997):
the delta is never pre-aggregated and no key set is broadcast, so a
tick of a few hundred rows costs one shuffle and one write. This is
exactly the Delta-CDF materialized-view maintenance loop; the
reference's dynamic table (``04_sales_enrich_sp.sql:22``)
incrementally maintains through updates the same way.

Soundness boundary, stated not hidden: incremental paths are valid
for ADDITIVE aggregates (count, sum — retractable with ``-``). A
replace-all commit in the range (overwrite / rollback: the change set
is table-sized by definition) or a vacuumed range (manifests or
pre-image files gone — incremental is unprovable) triggers a FULL
recompute instead, pinned to the stamped fact version so a concurrent
append can never be both included now and re-added later. Averages
come out of (sum, count) pairs downstream; non-additive aggregates
(distinct, quantiles) belong to the mergeable sketches
(operators/sketches.py), which compose with exactly this refresh loop.

The refresh high-water mark is the fact VERSION, stored in the rollup
table's own txn stamps (``app_id``/``batch_id`` — the same
exactly-once machinery the streaming sinks use), so refreshes are
idempotent: a re-run of an already-applied refresh is a metadata no-op
even across a crash between computing and committing.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.lakehouse import (
    _LAYOUT_OPS,
    _REPLACE_ALL_OPS,
    SnapshotTable,
    _transform_expr,
)

#: rollup column holding COUNT(*) per group
N_ROWS = "n_rows"


def files_added_between(
    fact: SnapshotTable, v_lo: int, v_hi: int
) -> tuple[list[str], bool]:
    """Data files first referenced in versions ``(v_lo, v_hi]`` and
    whether ANY commit in the range removed files. Thin wrapper over
    :meth:`SnapshotTable.file_changes` (pure manifest work)."""
    added: list[str] = []
    removed_any = False
    for _v, _op, add, removed, dv_delta in fact.file_changes(v_lo, v_hi):
        added += add
        if removed or dv_delta:
            removed_any = True  # DV commits remove ROWS without files
    return added, removed_any


def refresh_rollup(
    fact: SnapshotTable,
    rollup: SnapshotTable,
    prepare,
    group_cols: list[str],
    sum_cols: list[str],
    app_id: str = "rollup",
    since: int | str = "auto",
    through: int | None = None,
) -> str:
    """Bring ``rollup`` up to date with ``fact``. Returns how:

    - ``"noop"`` — already current;
    - ``"incremental"`` — append-only range: folded the added files
      in, rewrote touched partitions; or a range of layout-only
      (compact / Z-order) and metadata-only commits: no row changed,
      so only the high-water mark advanced (a ``refresh_noop`` commit)
      and nothing was read;
    - ``"incremental_cdf"`` — the range contained row-level removals
      (delete / merge / partition overwrite): folded the change feed's
      inserts (+) and deletes (−) into the existing groups;
    - ``"full"`` — first refresh, a replace-all commit in range, or
      the range expired under vacuum (manifests or pre-image files
      gone). Full scans are PINNED to the stamped fact version, so a
      concurrent append between snapshot and scan cannot be included
      now AND re-added by the next incremental refresh.

    ``prepare`` maps raw fact rows to grouped form — it must emit
    ``group_cols`` + ``sum_cols`` (e.g. derive ``day`` from ``ts``).
    The rollup schema is ``group_cols + [n_rows] + sum_<c>`` for each
    sum column. Partition ``rollup`` by its group column(s) — or any
    transform of a SUBSET of them (``day`` of ``(day, region)``
    groups) — to get touched-partitions-only rewrites: the combine
    carries every existing group of a touched partition, so sibling
    groups the delta never mentioned survive the partition overwrite.
    Unpartitioned rollups fall back to a whole-table overwrite, one
    aggregate over the stored rollup and the delta's rows (they are
    aggregate-sized — still cheap, just not partition-local).

    ``since`` — where the refresh's high-water mark comes from.
    ``"auto"`` (default): the rollup table's own txn stamps, correct
    whenever a committed rollup version IS the applied truth. An
    explicit int (or None for "never refreshed": full recompute) is
    for callers whose commit point lies ABOVE the table log — the
    transactional medallion (``plans/txn_refresh.py``) stages rollup
    commits that only count once a catalog pin swap lands, so it feeds
    the CATALOG's stamp here; trusting the log's stamps there would
    let an abandoned transaction's orphan commit masquerade as
    applied and wedge the refresh into ``noop`` forever.

    ``through`` — refresh through exactly this fact version instead of
    the head read at call time. Callers that record the high-water
    mark OUTSIDE this function (the transactional medallion stamps it
    in the catalog CAS) must pin it here too, or a fact commit racing
    in between would be folded-but-stamped-over (skipped forever) or
    stamped-but-never-folded (double-counted next tick)."""
    if rollup.partition_by:
        bad = [
            f.source for f in rollup._pfields if f.source not in group_cols
        ]
        if bad:
            raise ValueError(
                f"rollup partition source column(s) {bad} are not in "
                f"group_cols {group_cols}; the refresh could not even "
                "derive the touched partitions"
            )
    v_hi = fact.snapshot().version if through is None else through
    seen = rollup.last_committed_batch(app_id) if since == "auto" else since
    if seen is not None and v_hi <= seen:
        return "noop"
    # table-log txn stamps only in "auto" mode. Under an external
    # high-water (the transactional medallion), staging stamps in the
    # table would ARM `_commit`'s replay guard with uncommitted truth:
    # an abandoned transaction's orphan commit carries the same
    # (app_id, batch_id) the retry would use, and the retry's write
    # would silently no-op against it. The external caller's commit
    # point (the catalog CAS) is the only stamp that may exist.
    txn = {"app_id": app_id, "batch_id": v_hi} if since == "auto" else None

    def full_refresh() -> str:
        full = _combine(
            _measures(prepare(fact.read(version=v_hi)), group_cols, sum_cols),
            group_cols,
            sum_cols,
        )
        if rollup._versions():
            rollup.overwrite(full, txn=txn)
        else:
            rollup.create(full, txn=txn)
        return "full"

    def fold(rows: DataFrame, signed: bool) -> None:
        # Unpartitioned rollups fold the per-row measures straight into
        # the one combine (the delta is read once, inside the write).
        # Partitioned rollups aggregate the delta and materialize it
        # ONCE: _apply_delta's partitioned path consumes it from three
        # actions, each of which would otherwise re-scan the commit's
        # files (and a change feed twice, through _signed_rows' union).
        # Aggregate-sized (the groups the commits touched), so the
        # checkpoint is cheap.
        if rollup.partition_by:
            rows = _combine(rows, group_cols, sum_cols).localCheckpoint(
                eager=True
            )
        _apply_delta(rollup, rows, group_cols, sum_cols, txn, signed)

    if seen is None:
        return full_refresh()

    try:
        per_commit = fact.file_changes(seen, v_hi)
    except (FileNotFoundError, LookupError):
        # the range's manifests expired under vacuum: the add/remove
        # lists are gone, so incremental is unprovable — recompute
        return full_refresh()
    if any(op in _REPLACE_ALL_OPS for _v, op, _a, _r, _d in per_commit):
        return full_refresh()
    if all(
        op in _LAYOUT_OPS or not (a or r or d)
        for _v, op, a, r, d in per_commit
    ):
        # layout-/metadata-only range (compact, Z-order, spec
        # evolution): no row changed, so advance the high-water mark
        # without reading the feed or rewriting a rollup file. A range
        # mixing an append with a later compaction takes the feed: the
        # appended file may no longer be live to scan.
        if txn is not None:  # external-stamp mode advances at ITS commit
            rollup._commit(
                "refresh_noop", rollup.snapshot().version, [], txn=txn
            )
        return "incremental"
    # removed files OR deletion-vector rows: either way rows retracted
    removed_any = any(r or d for _v, _op, _a, r, d in per_commit)

    if removed_any:
        try:
            chg = fact.changes(seen, v_hi)
        except FileNotFoundError:
            # pre-image files vacuumed: the CDF retention boundary
            return full_refresh()
        fold(_signed_rows(chg, prepare, group_cols, sum_cols), signed=True)
        return "incremental_cdf"

    added = [f for _v, _op, a, _r, _d in per_commit for f in a]
    # read the delta through the fact's LOGICAL scan, never raw
    # parquet: files store physical (creation-time) names, so after a
    # rename_column a raw read would miss the renamed column — or, on
    # a name-swap chain, silently aggregate the WRONG one. _scan also
    # merges the files' schemas, so a mid-range schema evolution cannot
    # drop a late-added sum column. Appended files carry no DVs at add
    # time (this is the no-removals branch), hence dvs=None; for the
    # same reason every added file is live at v_hi, so that snapshot's
    # recorded schemas cover them.
    added_rows = fact._scan(added, None, fact.snapshot(v_hi).schemas)
    fold(_measures(prepare(added_rows), group_cols, sum_cols), signed=False)
    return "incremental"


def _measures(
    prepared: DataFrame, group_cols: list[str], sum_cols: list[str],
    sign: int = 1,
) -> DataFrame:
    """Per-row measures of prepared fact rows: the group columns, then
    ``n_rows`` = ``sign`` and ``sum_<c>`` = ``sign * c``. Summed per
    group (:func:`_combine`) they are the rollup itself; unioned with
    the stored rollup and summed, they fold a delta into it."""
    return prepared.select(
        *group_cols,
        F.lit(sign).alias(N_ROWS),
        *[
            (F.col(c) if sign > 0 else -F.col(c)).alias(f"sum_{c}")
            for c in sum_cols
        ],
    )


def _combine(
    rows: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """The one group-by: sum every measure per group. Its input may mix
    per-row measures and already-summed rollup rows — both add."""
    measure_cols = [N_ROWS] + [f"sum_{c}" for c in sum_cols]
    return (
        rows.groupBy(*group_cols)
        .agg(*[F.sum(c).alias(c) for c in measure_cols])
        .select(
            *group_cols,
            F.col(N_ROWS).cast("long").alias(N_ROWS),
            *[F.col(f"sum_{c}") for c in sum_cols],
        )
    )


def _signed_rows(
    chg: DataFrame, prepare, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """Per-row SIGNED measures of a change feed: inserts contribute
    ``+1``/``+value``, deletes ``-1``/``-value`` — the retraction form
    that makes a DELETE commit's refresh exact for additive
    aggregates. ``prepare`` runs on the raw rows of each side (it sees
    exactly the fact schema it was written for)."""
    # label-aware: a four-way feed (changes(update_labels=True)) folds
    # identically — update_postimage contributes +, update_preimage −.
    # Silently dropping them would corrupt the rollup of any caller
    # that wired a labeled feed through.
    sides = []
    for ctypes, sgn in (
        (("insert", "update_postimage"), 1),
        (("delete", "update_preimage"), -1),
    ):
        rows = chg.filter(F.col("_change_type").isin(*ctypes)).drop(
            "_change_type", "_commit_version"
        )
        sides.append(_measures(prepare(rows), group_cols, sum_cols, sgn))
    return sides[0].unionByName(sides[1])


def _apply_delta(
    rollup: SnapshotTable,
    delta: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    txn: dict,
    signed: bool,
) -> None:
    """Fold a delta (positive-only for append ranges; signed for CDF
    ranges) into ``rollup``. ``delta`` has the rollup's columns; its
    rows may be per-row measures (:func:`_measures`) or per-group sums,
    since :func:`_combine` adds both alike.

    Unpartitioned rollups fold in ONE aggregate (the summary-delta
    refresh of Mumick, Quass & Mumick, SIGMOD 1997): the stored rollup
    unioned with the delta, grouped and summed, then overwritten.
    Groups the delta never mentions sum to their own values, and
    ``groupBy`` puts NULL keys in one group, as ``eqNullSafe`` would
    match them. The delta is read once, inside the write, so a lazy
    frame is fine.

    Partitioned rollups carry existing rows at PARTITION granularity:
    every existing group of a delta-touched partition rides into the
    combine (null-safe on the derived partition fields), so a rollup
    partitioned by a SUBSET of its group columns keeps the sibling
    groups ``overwrite_partitions`` is about to rewrite. Groups whose
    count nets to zero drop out; a partition whose groups ALL vanish
    is dropped explicitly (drop first, then overwrite — a crash
    between the two re-runs the refresh, which is idempotent)."""
    if not rollup.partition_by:
        combined = _combine(
            rollup.read().unionByName(delta), group_cols, sum_cols
        )
        if signed:
            combined = combined.filter(F.col(N_ROWS) > 0)
        rollup.overwrite(combined, txn=txn)
        return

    # For PARTITIONED rollups ``delta`` must arrive MATERIALIZED
    # (localCheckpoint'd): this path consumes it from several actions
    # (the broadcast touched-partitions subquery, the combine's union
    # side, the vanished-partition collect) — a lazy delta would
    # re-scan the commit's files per action. refresh_rollup
    # checkpoints it before calling.
    pfields = rollup._pfields
    names = [f.name for f in pfields]

    def keyed(df: DataFrame, prefix: str) -> DataFrame:
        dtypes = {fld.name: fld.dataType for fld in df.schema.fields}
        return df.select(
            "*",
            *[
                _transform_expr(f, dtypes[f.source]).alias(f"{prefix}{f.name}")
                for f in pfields
            ],
        )

    touched_parts = (
        keyed(delta, "_tp_").select(*[f"_tp_{n}" for n in names]).distinct()
    )
    on = reduce(
        lambda a, b: a & b,
        [F.col(f"_pt_{n}").eqNullSafe(F.col(f"_tp_{n}")) for n in names],
    )
    existing = (
        keyed(rollup.read(), "_pt_")
        .join(F.broadcast(touched_parts), on, "inner")
        .drop(*[f"_pt_{n}" for n in names], *[f"_tp_{n}" for n in names])
    )
    combined = _combine(existing.unionByName(delta), group_cols, sum_cols)
    if signed:
        combined = combined.filter(F.col(N_ROWS) > 0)
    # materialize once: three actions consume combined (vanished-
    # partition collect, overwrite's touched-tuple collect, the write) —
    # lazy, each would re-read the delta files and re-join. Aggregate-
    # sized (touched partitions only), so the checkpoint is cheap.
    combined = combined.localCheckpoint(eager=True)
    # partitions whose every group vanished would survive an overwrite
    # that never mentions them — drop them explicitly (exact: partition
    # tuples, not predicates). Bounded by the touched-partition count.
    combined_parts = {
        tuple(r[f"_cp_{n}"] for n in names)
        for r in keyed(combined, "_cp_")
        .select(*[f"_cp_{n}" for n in names])
        .distinct()
        .collect()
    }
    delta_parts = {
        tuple(r[f"_tp_{n}"] for n in names) for r in touched_parts.collect()
    }
    for tup in sorted(
        delta_parts - combined_parts, key=lambda t: tuple(str(x) for x in t)
    ):
        rollup.drop_partitions(
            [(n, "=", v) for n, v in zip(names, tup)]
        )
    if combined_parts:
        rollup.overwrite_partitions(combined, txn=txn)
    elif txn is not None:
        # every touched partition vanished: advance the high-water mark
        # (external-stamp callers advance at THEIR commit instead)
        rollup._commit(
            "refresh_noop", rollup.snapshot().version, [], txn=txn
        )
