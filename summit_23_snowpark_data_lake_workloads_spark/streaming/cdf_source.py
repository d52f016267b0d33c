"""Streaming CHANGE-DATA-FEED source — a ``readStream``-shaped
incremental consumer of a :class:`SnapshotTable`'s change feed, the
last step toward the reference's always-on dynamic table (architecture
PNG; the enrich step at ``04_sales_enrich_sp.sql:22`` consumes a
continuously-maintained table). Where ``operators/rollup.py`` is the
scheduled-DAG batch refresh ("bring silver up to date NOW, in one
fold"), this is the stream form: micro-batch per commit range, a
checkpointed high-water offset, and exactly-once end-to-end when the
sink stamps the range's upper version as its ``txn`` batch id — the
identical contract Structured Streaming's file source + Delta sink
pair gives (offset log + idempotent sink), rebuilt on the table's own
commit log because Spark has no DataSource V2 hook for a custom
manifest format without a JVM plugin.
:func:`cdf_foreach_batch_stream` is the facade over that boundary: a
REAL StreamingQuery (micro-batch clock + ``foreachBatch``) drives the
drain, so consumers get the Structured Streaming lifecycle without the
drain-loop cadence being theirs to schedule.

The 100 TB shape: a drain reads O(files the pending commits touched)
— per-commit cost is the change feed's cost model
(``SnapshotTable.changes``), never O(table) except replace-all
commits, whose change set is table-sized by definition and which the
signed fold still applies CORRECTLY (the feed of an overwrite is the
exact old->new multiset diff, so retraction folding survives even
that; it is merely not cheap — schedule compaction-sized maintenance
around replace-alls, or let the batch ``refresh_rollup`` take them
with its pinned full recompute).

Crash story, stated not hidden: the offset advances AFTER the
processor returns, so a crash in between replays the micro-batch —
at-least-once at this layer. A processor that writes through a
lakehouse ``txn`` stamp (``maintain_rollup_stream`` below) makes the
replay a metadata no-op: exactly-once end-to-end, the same two-layer
design as Structured Streaming checkpoints + idempotent sinks.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.rollup import N_ROWS, _apply_delta, _signed_delta
from ..sources.lakehouse import SnapshotTable

_OFFSET_FILE = "offset.json"


class ChangeFeedStream:
    """Checkpointed micro-batch reader over ``table.changes``.

    ``drain(process)`` delivers every commit committed since the
    stored offset as ``process(chg_df, v_lo, v_hi)`` calls —
    ``availableNow`` semantics: one drain processes the backlog and
    returns; call again on the next trigger. ``max_commits_per_batch``
    bounds how many commits one micro-batch spans (default 1: the
    per-commit granularity a latency-sensitive consumer wants; raise
    it to amortize tiny commits). A fresh checkpoint starts at version
    0, so the FIRST drain replays the table's whole history as inserts
    — the stream is self-bootstrapping, exactly like starting a Delta
    CDF stream at ``startingVersion = 0``."""

    def __init__(
        self,
        table: SnapshotTable,
        checkpoint_dir: str,
        max_commits_per_batch: int = 1,
    ):
        self.table = table
        self.checkpoint_dir = checkpoint_dir
        self.max_commits_per_batch = max(1, int(max_commits_per_batch))
        os.makedirs(checkpoint_dir, exist_ok=True)

    def _offset_path(self) -> str:
        return os.path.join(self.checkpoint_dir, _OFFSET_FILE)

    def last_version(self) -> int:
        """High-water mark: the newest table version already delivered
        (0 = nothing yet)."""
        try:
            with open(self._offset_path()) as fh:
                return int(json.load(fh)["last_version"])
        except (OSError, ValueError, KeyError):
            return 0

    def _store(self, version: int) -> None:
        # temp + atomic rename: a crash mid-write can't corrupt the
        # offset into a half-written JSON that parses as garbage
        tmp = self._offset_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"last_version": version}, fh)
        os.replace(tmp, self._offset_path())

    def pending(self) -> tuple[int, int]:
        """``(delivered_through, table_head)`` — equal means caught up."""
        return self.last_version(), self.table.snapshot().version

    def drain_ranges(self, process) -> list[tuple[int, int]]:
        """Like :meth:`drain`, but delivers only the ``(v_lo, v_hi)``
        range — for consumers that re-derive the range from the table
        log themselves (the transactional chain: ``refresh_rollup``
        reads the feed under its own ``since``/``through`` pins), so
        building the change DataFrame here would be wasted metadata
        work. Offset semantics identical."""
        lo, hi = self.pending()
        out: list[tuple[int, int]] = []
        v = lo
        while v < hi:
            w_hi = min(v + self.max_commits_per_batch, hi)
            process(v, w_hi)
            self._store(w_hi)
            out.append((v, w_hi))
            v = w_hi
        return out

    def drain(self, process) -> list[tuple[int, int]]:
        """Deliver all pending commits as micro-batches; return the
        ``(v_lo, v_hi]`` ranges processed. The offset advances after
        each ``process`` call returns (at-least-once here; see the
        module docstring for the exactly-once composition)."""
        return self.drain_ranges(
            lambda lo, hi: process(self.table.changes(lo, hi), lo, hi)
        )


def cdf_foreach_batch_stream(
    spark,
    table: SnapshotTable,
    checkpoint_dir: str,
    process,
    trigger: dict | None = None,
    max_commits_per_batch: int = 1,
):
    """Run a :class:`ChangeFeedStream` consumer under a REAL Structured
    Streaming query — the ``readStream`` facade the drain-loop API
    lacked: consumers get a genuine ``StreamingQuery`` handle (start /
    ``stop()`` / ``awaitTermination`` / ``lastProgress``, any trigger
    incl. ``availableNow`` and ``processingTime``) instead of calling
    ``drain()`` on their own cadence.

    Honest boundary, same as the module docstring: Spark exposes no
    DataSource V2 hook for a custom manifest format without a JVM
    plugin, so the change rows CANNOT be the streaming DataFrame
    itself. The streaming DataFrame here is a ``rate-micro-batch``
    source acting as the CLOCK; each micro-batch's ``foreachBatch``
    callback drains the table's change feed and hands every pending
    commit range to ``process(chg_df, v_lo, v_hi)`` — exactly the shape Spark users
    consume Delta CDF with in practice (``foreachBatch`` + merge),
    with the same two-layer exactly-once story (checkpointed offset +
    idempotent txn-stamped sink). The clock's offset advances by one
    per micro-batch, so every start runs a batch — a ``rate`` clock
    counts whole seconds since its creation, and an ``availableNow``
    restart within a second of the previous tick ran no batch and
    drained nothing. Its checkpoint lives under
    ``<checkpoint_dir>/clock``, beside the feed offset — one directory
    owns the stream's whole resumable state.

    ``trigger`` kwargs pass to ``DataStreamWriter.trigger`` (default
    ``{"availableNow": True}``: drain the backlog once and stop — the
    scheduled-tick form; use ``{"processingTime": "5 seconds"}`` for
    always-on). Returns the started ``StreamingQuery``."""
    stream = ChangeFeedStream(
        table, checkpoint_dir, max_commits_per_batch=max_commits_per_batch
    )

    def _tick(_clock_df, _batch_id: int) -> None:
        stream.drain(process)

    return (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 1)
        .option("numPartitions", 1)
        .load()
        .writeStream.foreachBatch(_tick)
        .option(
            "checkpointLocation", os.path.join(checkpoint_dir, "clock")
        )
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def maintain_rollup_stream(
    fact: SnapshotTable,
    silver: SnapshotTable,
    prepare,
    group_cols: list[str],
    sum_cols: list[str],
    checkpoint_dir: str,
    app_id: str = "cdf_stream",
    max_commits_per_batch: int = 1,
) -> list[tuple[int, int]]:
    """Continuously-maintained silver rollup over ``fact``'s change
    stream — the streaming twin of
    :func:`..operators.rollup.refresh_rollup`: each drained
    micro-batch folds its SIGNED per-group delta (inserts ``+``,
    deletes ``-``) into ``silver``, stamped with the range's upper
    fact version, so a crash-replayed batch is a metadata no-op
    (exactly-once through the at-least-once stream layer). Returns the
    ranges this drain processed.

    ``prepare``/``group_cols``/``sum_cols`` contract is
    ``refresh_rollup``'s. Additive aggregates only — the same
    soundness boundary, because it is the same arithmetic."""
    stream = ChangeFeedStream(
        fact, checkpoint_dir, max_commits_per_batch=max_commits_per_batch
    )

    def process(chg: DataFrame, _v_lo: int, v_hi: int) -> None:
        seen = (
            silver.last_committed_batch(app_id)
            if silver._versions()
            else None
        )
        if seen is not None and v_hi <= seen:
            return  # crash-replayed micro-batch: already folded
        txn = {"app_id": app_id, "batch_id": v_hi}
        delta = _signed_delta(
            chg, prepare, group_cols, sum_cols
        ).localCheckpoint(eager=True)
        if not delta.limit(1).count():
            # layout-/metadata-only range: advance the stamp without
            # rewriting a single silver row
            if silver._versions():
                silver._commit(
                    "refresh_noop", silver.snapshot().version, [], txn=txn
                )
            return
        if not silver._versions():
            # a multi-commit first batch can net a group to zero
            silver.create(delta.filter(F.col(N_ROWS) > 0), txn=txn)
            return
        _apply_delta(silver, delta, group_cols, sum_cols, txn, signed=True)

    return stream.drain(process)


def maintain_replica_stream(
    src: SnapshotTable,
    dst: SnapshotTable,
    key_cols: list[str],
    checkpoint_dir: str,
    app_id: str = "cdc_stream",
    max_commits_per_batch: int = 1,
    strategy: str = "cow",
    route_inserts: bool = True,
) -> list[tuple[int, int]]:
    """Continuously-maintained ROW-LEVEL replica over ``src``'s change
    stream — the streaming twin of
    :func:`..operators.cdc.replicate_changes` the same way
    :func:`maintain_rollup_stream` is the streaming twin of the batch
    rollup refresh: each drained micro-batch is netted per key (one
    ``max(struct)`` aggregate — insert-then-delete inside the batch
    applies as nothing, the last image wins) and landed as at most a
    key-scoped delete + key-scoped merge + fresh-insert append, the
    txn stamp riding the last step taken (the replay story of
    ``operators.cdc._apply_netted``). A crash-replayed batch is a
    metadata no-op.

    ``route_inserts`` (default on) — the churn-skip: keys with no
    retraction event in the micro-batch land as ONE plain append, so
    the append-mostly phases of a feed never key-probe the replica at
    all (``net_changes_routed``). ``strategy="mor"`` applies
    retractions through deletion vectors instead of copy-on-write.

    Same contract as the batch form: key-unique upstream rows; a
    replace-all source commit's feed is table-sized (correct, not
    cheap); a vacuumed range raises unless the source persists its CDF
    (``cdf=True``) — the composition that makes an always-on replica
    survive source retention."""
    from ..operators.cdc import (
        _SCHEMA_OPS,
        _apply_netted,
        _schema_drifted,
        net_changes,
        net_changes_routed,
    )

    stream = ChangeFeedStream(
        src, checkpoint_dir, max_commits_per_batch=max_commits_per_batch
    )

    def process(chg: DataFrame, _v_lo: int, v_hi: int) -> None:
        seen = (
            dst.last_committed_batch(app_id) if dst._versions() else None
        )
        if seen is not None and v_hi <= seen:
            return  # crash-replayed micro-batch: already applied
        txn = {"app_id": app_id, "batch_id": v_hi}
        schema_surgery = any(
            op in _SCHEMA_OPS
            for _v, op, _a, _r, _d in src.file_changes(_v_lo, v_hi)
        )
        if schema_surgery or _schema_drifted(src, dst):
            # upstream DROP/RENAME/READD: metadata-only, no change rows
            # — row-level apply would serve the stale column forever,
            # and a drop+readd pair inside one batch leaves the schemas
            # EQUAL while the data diverges (hence the op check). Same
            # reconciliation as the batch form: full resync pinned to
            # this batch's upper version, stamp attached.
            if dst._versions():
                dst.overwrite(src.read(version=v_hi), txn=txn)
            else:
                dst.create(src.read(version=v_hi), txn=txn)
            return
        if route_inserts:
            fresh, upserts, deleted = net_changes_routed(chg, key_cols)
        else:
            upserts, deleted = net_changes(chg, key_cols)
            fresh = upserts.limit(0)
        # materialize once: each frame feeds multiple actions
        fresh = fresh.localCheckpoint(eager=True)
        upserts = upserts.localCheckpoint(eager=True)
        deleted = deleted.localCheckpoint(eager=True)
        if not dst._versions():
            first = upserts.unionByName(fresh)
            if first.limit(1).count():
                dst.create(first, txn=txn)
            return  # nothing to create yet; replay re-derives this batch
        _apply_netted(dst, fresh, upserts, deleted, key_cols, strategy, txn)

    return stream.drain(process)
