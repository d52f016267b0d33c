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

The maintained forms (:func:`maintain_rollup_stream`,
:func:`maintain_replica_stream`, and ``plans/txn_refresh.py``'s
``maintain_chain_stream``) hold no maintenance logic of their own:
each drains commit RANGES and runs the batch function
(``refresh_rollup`` / ``replicate_changes`` / ``refresh_chain_txn``)
pinned ``through`` the range's upper version, so a stream's result is
the batch result over each prefix by construction, and every rule the
batch form has (replace-all and vacuumed ranges recompute, layout-only
ranges only advance the stamp) holds for the stream too. Ranges end
on LIVE versions: after a vacuum expired versions the drain has not
reached, the next range spans the gap and the batch function resyncs
in full where it can no longer prove the increment.

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

from ..operators.cdc import _replicate
from ..operators.rollup import refresh_rollup
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
        log themselves (the batch refreshes read the feed under their
        own ``through`` pin), so building the change DataFrame here
        would be wasted metadata work. Offset semantics identical.

        Every ``v_hi`` is a live version: the ranges step through the
        table's versions above the offset, ``max_commits_per_batch``
        at a time, so a range spans any versions vacuum expired (with
        no gaps, each range is ``max_commits_per_batch`` commits, the
        last one possibly fewer)."""
        lo = self.last_version()
        live = [v for v in self.table._versions() if v > lo]
        step = self.max_commits_per_batch
        out: list[tuple[int, int]] = []
        for i in range(0, len(live), step):
            hi = live[min(i + step, len(live)) - 1]
            process(lo, hi)
            self._store(hi)
            out.append((lo, hi))
            lo = hi
        return out

    def drain(self, process) -> list[tuple[int, int]]:
        """Deliver all pending commits as micro-batches; return the
        ``(v_lo, v_hi]`` ranges processed. The offset advances after
        each ``process`` call returns (at-least-once here; see the
        module docstring for the exactly-once composition). A raw feed
        cannot be recomputed: a range vacuum expired raises
        ``changes()``'s ``FileNotFoundError``."""
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
    stream: each drained range runs
    :func:`..operators.rollup.refresh_rollup` pinned ``through`` the
    range's upper fact version, which is also the range's txn stamp,
    so a crash-replayed range is a metadata no-op (exactly-once
    through the at-least-once stream layer). Returns the ranges this
    drain processed.

    ``prepare``/``group_cols``/``sum_cols`` and every refresh mode are
    ``refresh_rollup``'s: a replace-all commit or a vacuumed range
    recomputes in full, a layout-only range only advances the stamp."""
    return ChangeFeedStream(
        fact, checkpoint_dir, max_commits_per_batch=max_commits_per_batch
    ).drain_ranges(
        lambda _lo, hi: refresh_rollup(
            fact, silver, prepare, group_cols, sum_cols,
            app_id=app_id, through=hi,
        )
    )


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
    stream: each drained range runs
    :func:`..operators.cdc.replicate_changes` pinned through the
    range's upper source version (its txn stamp), so a crash-replayed
    range is a metadata no-op. Returns the ranges this drain
    processed.

    ``strategy``, ``route_inserts`` and every sync rule are
    ``replicate_changes``'s: per-key netting landed as key-scoped
    delete + merge + fresh-insert append; a full resync pinned to the
    range for a replace-all commit, upstream schema surgery (rename /
    drop / readd) or a range vacuumed past recovery; a layout-only
    range only advances the stamp. Same contract as the batch form:
    key-unique upstream rows."""
    return ChangeFeedStream(
        src, checkpoint_dir, max_commits_per_batch=max_commits_per_batch
    ).drain_ranges(
        lambda _lo, hi: _replicate(
            src, dst, key_cols, hi, app_id, strategy, route_inserts
        )
    )
