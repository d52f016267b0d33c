"""Snapshot-versioned parquet tables — the transactional-format gap
(reference: permanent/transient tables with time travel + fail-safe,
``3B2_load_pdf_to_text.sql:1``, ``1_env_setup.sql``) closed without
Delta/Iceberg jars (unavailable offline): the same file-level
copy-on-write design those formats use, on plain parquet + JSON
manifests.

Layout::

    <table>/
      data/b-<uuid>/part-*.parquet   immutable data files (never edited)
      _manifests/v0000000001.json    one manifest per committed version

A manifest is either FULL (the exact file set of that version) or a
DELTA (``base_version`` + ``add``/``remove``) — incremental commits
write deltas, so commit metadata is proportional to the COMMIT, and a
full manifest is checkpointed every ``_CHECKPOINT_EVERY`` versions to
bound the reader's fold chain (the Delta-log checkpoint design).
Commits are atomic via a pluggable :class:`CommitProtocol` (default:
POSIX exclusive-create of the next manifest): two writers racing on the
same version — one wins, the loser retries on the next number
(optimistic concurrency, the Delta protocol's commit rule). Object
stores need a different protocol for the same one-winner property — S3
conditional PUT, or a DynamoDB-style lock (:class:`LockedCommit`); bare
PUT/rename is last-writer-wins and loses updates (demonstrated in
``tests/test_lakehouse.py``). Readers never lock: a manifest, once
written, is logically immutable (``vacuum`` may rewrite the oldest
retained delta as its equivalent full form before dropping its base —
same resolved snapshot, byte layout only).

Data files are written one of two ways, to the same files and rows
per file. Since the manifest publish is the commit, a batch needs no
Hadoop committer: a small unpartitioned batch — allow-listed column
types, a plan with no row-multiplying node, a size estimate within
``spark.sql.files.openCostInBytes`` — is collected once as Arrow and
written from the driver, one file per Spark partition as Spark would
write it (the Snowpipe Streaming client writes its small chunks
straight to storage the same way). Every other batch, every
partitioned one and every ``compact``/``cluster_zorder`` rewrite is a
Spark parquet write job; the driver's files differ from parquet-mr's
only in byte size.

Scale posture: a snapshot READ is O(#files) driver-side JSON — the
identical cost model Delta/Iceberg accept (at 100 TB with 128 MB files
that is ~10^6 manifest entries; shard manifests per partition before
that point) — but a COMMIT writes only its add/remove delta, so the
nightly-append metadata cost no longer grows with table size.
DELETE/MERGE rewrite ONLY files that contain affected rows (located via
``_metadata.file_path`` pushdown, a file-count-bounded collect), so an
upsert touching one day of a year-partitioned fact rewrites that day's
files, not the table.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import json
import os
import re
import shutil
import time
import uuid
from contextvars import ContextVar
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
#: persisted change-data-feed sidecar parquet lands here (one
#: ``c-<uuid>`` dir per commit), written BEFORE the manifest publishes
#: and referenced by the manifest's ``change_files`` list — Delta's
#: ``_change_data`` directory, same visibility rule (unreferenced =
#: invisible; a losing writer's sidecars are grace-gated orphans)
_CHANGES_DIR = "_changes"
#: named-ref sidecars (Iceberg-style TAGS) under ``_manifests/tags/``
_TAGS_DIR = "tags"
#: writable-branch ref sidecars under ``_manifests/branches/`` — each
#: records the branch's FORK VERSION, which vacuum retains like a tag
#: while the ref lives (the branch references the fork's files)
_BRANCH_REFS_DIR = "branches"
#: branch table roots under ``<table>/_branches/<name>/`` — each is a
#: full SnapshotTable (own manifests + data dir); OUTSIDE the parent's
#: ``data`` dir, so the parent's vacuum sweep never walks branch files
_BRANCH_DATA_DIR = "_branches"
#: a FULL manifest (complete file list) is checkpointed at every
#: multiple of this version number; commits in between write DELTA
#: manifests (add/remove only), so commit metadata stays proportional
#: to the commit and a reader's fold chain is bounded by this interval
#: (the Delta-log checkpoint design)
_CHECKPOINT_EVERY = 8
#: a partitioned table's FULL manifest switches to per-partition shard
#: sidecars past this file count (kept small enough that tests exercise
#: the sharded layout on real data; at 100 TB the constant is
#: irrelevant — every table is far past it)
_SHARD_CHECKPOINT_FILES = 64
#: operations that CHANGE table metadata (constraints / column map /
#: dropped columns / partition spec / CDF mode). They commit with the
#: handle's updated cache as the intended new table state, so they must
#: be based on the CURRENT head (a metadata commit racing anything is a
#: lost update one way or the other), and every OTHER commit must prove
#: its cached metadata still matches the head before persisting it —
#: Delta replays metadata actions cumulatively from the log for exactly
#: this reason; with commit-local metadata the equivalent is
#: divergence = abort (ConcurrentWriteError), never silent overwrite.
_META_OPS = frozenset(
    {
        "rename_column",
        "drop_column",
        "readd_column",
        "add_constraint",
        "drop_constraint",
        "evolve_partition_spec",
        "enable_cdf",
    }
)


class SchemaMismatchError(ValueError):
    """An incoming write's schema conflicts with the table's: a shared
    column changed type (never allowed — the files become unreadable
    together), or the write introduces new columns without
    ``schema_evolution=True`` (the Delta default: evolution is an
    explicit opt-in, not something a typo'd column name triggers)."""


class ConcurrentWriteError(RuntimeError):
    """Another writer committed since this operation read the table, and
    the operation does not commute (Delta's conflict rule: appends
    rebase, everything else aborts for the caller to retry on fresh
    state)."""


class ConstraintViolationError(ValueError):
    """A write contained rows violating a table CHECK constraint —
    rejected BEFORE any file landed (Delta's write-side enforcement:
    a constraint that only fires on read is a constraint the bad data
    already escaped)."""


class BranchMergeConflict(RuntimeError):
    """:meth:`SnapshotTable.merge_branch` found true divergence: main
    rewrote or soft-deleted a file the branch also rewrote/soft-deleted
    (the same rows changed on both sides), or table metadata diverged
    between fork and merge. The branch stays intact — rebase it
    manually (re-branch from the new head and replay) or discard it;
    silently picking a side would be a lost update."""


class CommitProtocol:
    """The atomic-visibility seam: how the next manifest becomes the one
    winner for its version number.

    The whole optimistic-concurrency design rests on a single property:
    **at most one writer's** ``publish(path, body)`` **returns True per
    path**. What supplies that property differs by storage backend:

    - **POSIX / HDFS** — ``O_EXCL`` exclusive create
      (:class:`PosixCommit`, the default here).
    - **S3 (conditional writes) / GCS / Azure** — conditional PUT
      (``If-None-Match: *`` / ``x-goog-if-generation-match: 0``): the
      same one-winner contract, expressed as a precondition header.
      Subclass with the object-store client of your deployment.
    - **S3 without conditional writes** — plain PUT is last-writer-wins
      and cannot provide the property by itself; an external lock
      service (the DynamoDB row Delta-on-S3 uses) must serialize
      publication: :class:`LockedCommit` wraps any non-atomic store
      with such a mutex.

    :class:`OverwritingCommit` (models bare PUT / non-atomic rename)
    exists ONLY to demonstrate in tests the lost-update anomaly the
    seam prevents — never ship it unwrapped.
    """

    def publish(self, path: str, body: str) -> bool:
        """Atomically make ``body`` the content of ``path`` iff nothing
        has been published there; True = this writer won."""
        raise NotImplementedError


class PosixCommit(CommitProtocol):
    """Exclusive create — atomic on POSIX filesystems and HDFS.

    Publish must be atomic in CONTENT, not just in name: a reader
    listing the log directory between a winner's ``open(O_EXCL)`` and
    its ``write()`` would parse a torn manifest (observed as a rare
    JSONDecodeError under the threaded catalog-CAS race). Write the
    body to a uniquely-named temp file first, then ``os.link`` it to
    the target — the link is the exclusive-create (EEXIST = lost the
    race) and the file appears with its full content or not at all,
    the same all-or-nothing a conditional PUT gives on object stores."""

    def publish(self, path: str, body: str) -> bool:
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            fh.write(body)
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)


class OverwritingCommit(CommitProtocol):
    """Write-to-temp + rename, as a bare object-store PUT behaves:
    last-writer-wins, every caller told it succeeded. Deliberately
    UNSAFE — the test double that shows why the seam exists."""

    def publish(self, path: str, body: str) -> bool:
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(body)
        os.replace(tmp, path)  # clobbers an existing winner silently
        return True


class LockedCommit(CommitProtocol):
    """Check-then-put under an external mutex — the shape of the
    DynamoDB-lock commit service for S3 deployments without conditional
    PUT. ``lock`` is any context manager giving mutual exclusion across
    writers (a lock table row in production; ``threading.Lock`` in
    tests)."""

    def __init__(self, lock, inner: CommitProtocol):
        self.lock = lock
        self.inner = inner

    def publish(self, path: str, body: str) -> bool:
        with self.lock:
            if os.path.exists(path):
                return False
            return self.inner.publish(path, body)


class FileLockMutex:
    """Mutual exclusion via an exclusive-create LOCK FILE — the
    filesystem-visible stand-in for the external lock service
    S3-without-conditional-PUT needs (the DynamoDB row Delta-on-S3
    uses). Unlike ``threading.Lock`` it excludes across PROCESSES, so
    ``LockedCommit(FileLockMutex(...), ...)`` is the single-box model
    of the multi-cluster commit arbitration the
    :class:`CommitProtocol` docstring promises: every writer on every
    driver contends for the same lock object, not a per-process mutex.

    What a production lock service adds that a bare lock file cannot
    (stated, not hidden): holder TTL/expiry and fencing tokens — a
    holder that CRASHES here leaks the lock until ``timeout_s`` expiry
    surfaces it to an operator (the lock file records the holder pid
    for that postmortem); it is never silently broken, because breaking
    a lock without fencing re-creates the lost-update anomaly the seam
    exists to prevent."""

    def __init__(
        self, path: str, poll_s: float = 0.002, timeout_s: float = 30.0
    ):
        self.path = path
        self.poll_s = poll_s
        self.timeout_s = timeout_s

    def __enter__(self) -> "FileLockMutex":
        deadline = time.monotonic() + self.timeout_s
        while True:
            try:
                fd = os.open(
                    self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return self
            except FileExistsError:
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"lock {self.path!r} held past {self.timeout_s}s "
                        "(crashed holder? pid inside the file)"
                    )
                time.sleep(self.poll_s)

    def __exit__(self, *exc) -> bool:
        with contextlib.suppress(OSError):
            os.unlink(self.path)
        return False


@dataclass(frozen=True)
class Snapshot:
    """One committed table version."""

    version: int
    timestamp_ms: int
    operation: str
    files: list[str]  # paths relative to the table root
    #: per-file column stats {relpath: {col: [min, max]}} harvested from
    #: parquet footers at write time — the data-skipping index
    stats: dict = None  # type: ignore[assignment]
    #: idempotent-writer marker {"app_id": str, "batch_id": int} — the
    #: Delta txn action: a streaming writer stamps each commit so replays
    #: of the same micro-batch after a checkpoint restart are detectable
    txn: dict = None  # type: ignore[assignment]
    #: per-file bloom bitsets {relpath: {col: hex}} for ``=`` skipping on
    #: high-cardinality unsorted columns (range stats can't prune those)
    blooms: dict = None  # type: ignore[assignment]
    #: per-file partition values {relpath: {col: str|None}} for tables
    #: created with ``partition_by`` — Delta's ``partitionValues``: the
    #: EXACT file→partition map that makes partition pruning a manifest
    #: filter and partition overwrite/drop a metadata operation
    parts: dict = None  # type: ignore[assignment]
    #: DELETION VECTORS {relpath: [[start, end), ...]} — row-index
    #: ranges soft-deleted from a live file (merge-on-read: Delta DVs /
    #: Iceberg v2 position deletes). Readers subtract them; compaction
    #: and COW rewrites purge them (a rewritten file's DV dies with it)
    dvs: dict = None  # type: ignore[assignment]
    #: per-batch Spark schemas {batch dir: schema JSON} of the live files
    #: (:func:`_batch_of`), read from each added file's footer at commit
    #: — Delta's ``metaData`` schema, kept per batch so it stays exact
    #: under remove, rewrite, compaction and rollback. A scan folds them
    #: instead of running a footer-merge job; a file whose batch has no
    #: entry (older manifests, linked foreign files) plans through the
    #: footer merge
    schemas: dict = None  # type: ignore[assignment]


# ----------------------------------------------------- deletion vectors
#
# A DV is a sorted list of disjoint half-open [start, end) row-index
# ranges over ONE data file's physical row order (parquet row_index —
# stable because data files are immutable). Range-run encoding keeps
# the manifest JSON proportional to the RUN count, which is what
# clustered deletes (a day's rows inside a file, one user's contiguous
# block) produce; a pathologically scattered delete produces many runs
# and delete_mor falls back to copy-on-write past a run budget.


def _ranges_from_indices(indices: list[int]) -> list[list[int]]:
    """Sorted row indices -> minimal disjoint [start, end) runs."""
    out: list[list[int]] = []
    for i in sorted(indices):
        if out and i == out[-1][1]:
            out[-1][1] = i + 1
        else:
            out.append([i, i + 1])
    return out


def _ranges_union(a: list, b: list) -> list[list[int]]:
    """Union of two run lists, normalized (merge-adjacent)."""
    merged = sorted([list(r) for r in a] + [list(r) for r in b])
    out: list[list[int]] = []
    for s, e in merged:
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def _ranges_count(ranges: list) -> int:
    return sum(e - s for s, e in ranges)


def _ranges_subtract(a: list, b: list) -> list[list[int]]:
    """Runs of ``a`` not covered by ``b`` — the per-commit DV delta
    when only cumulative states are recorded (checkpoint manifests)."""
    out: list[list[int]] = []
    b = sorted([list(r) for r in b])
    for s, e in sorted([list(r) for r in a]):
        cur = s
        for bs, be in b:
            if be <= cur or bs >= e:
                continue
            if bs > cur:
                out.append([cur, bs])
            cur = max(cur, be)
            if cur >= e:
                break
        if cur < e:
            out.append([cur, e])
    return out


def _balanced_or(conds: list) -> "F.Column":
    """OR-fold as a balanced tree: a left-deep chain of N terms is an
    N-deep expression that overflows Catalyst's stack in the low
    thousands; balanced depth is log2(N)."""
    while len(conds) > 1:
        conds = [
            conds[i] if i + 1 >= len(conds) else (conds[i] | conds[i + 1])
            for i in range(0, len(conds), 2)
        ]
    return conds[0]


def _key_match(keys: DataFrame, key_cols: list[str]):
    """The key-set verbs' matching step: a broadcast ``left_semi`` on
    ``key_cols`` (the key side is source-sized by contract)."""
    return lambda d: d.join(F.broadcast(keys), key_cols, "left_semi")


def _dv_delete_commutes(mine: frozenset):
    """The commute rule for deletion-vector DELETEs (``mine`` = the files
    the delete retracts from). Logical-conflict granularity (Delta's
    check, not a blanket abort): two DV deletes whose touched FILES are
    disjoint commute — the final live set is identical in either order
    — so a concurrent DV delete on other files rebases instead of
    raising. Anything else intervening (appends the predicate never
    saw, COW rewrites, compaction) still aborts. Verbs that ADD files
    (MoR merge/update) never pass it: they abort on any intervening
    commit."""

    def commutes(intervening) -> bool:
        return all(
            op == "delete_mor"
            and not added
            and mine.isdisjoint(removed)
            and mine.isdisjoint(dvd)
            for _v, op, added, removed, dvd in intervening
        )

    return commutes


def _dv_not_deleted_expr(
    dvs_abs: dict, fp_col: str = "_metadata.file_path",
    ri_col: str = "_metadata.row_index",
) -> "F.Column":
    """The read-path filter: TRUE for rows NOT covered by any DV.
    Built over the scan's file path / row index (``_metadata`` fields,
    or columns they were extracted into), so it composes onto a raw
    parquet scan as a plain codegen predicate — no join, and the
    scan's hidden ``_metadata`` stays addressable downstream
    (DELETE/MERGE locate touched files through it). ``dvs_abs`` keys
    are ABSOLUTE file paths.

    Expression-size discipline (a scattered delete produces thousands
    of runs): single-row runs across ALL files collapse into ONE
    ``isin`` over a combined ``file_id * 2^42 + row_index`` long key —
    a single flat InSet, one hash probe per row, one py4j call — and
    only the genuinely clustered multi-row runs become per-file range
    terms, OR-folded as a balanced tree (a left-deep chain overflows
    the JVM stack around ~2k terms). Callers hot enough to care
    (``SnapshotTable._scan``) extract the two ``_metadata`` fields
    into plain columns FIRST: every direct reference to a metadata
    subfield re-materializes the struct per row, and with dozens of
    references that was a measured 200x slowdown."""
    fp, ri = F.col(fp_col), F.col(ri_col)
    file_ids: list[tuple[str, int]] = []
    combined: list[int] = []
    range_conds = []
    for abs_path, ranges in sorted(dvs_abs.items()):
        singles = [int(s) for s, e in ranges if e - s == 1]
        rngs = [(int(s), int(e)) for s, e in ranges if e - s > 1]
        if singles:
            fid = len(file_ids)
            file_ids.append((abs_path, fid))
            combined += [(fid << 42) | i for i in singles]
        if rngs:
            range_conds.append(
                (fp == f"file:{abs_path}")
                & _balanced_or([(ri >= s) & (ri < e) for s, e in rngs])
            )
    conds = list(range_conds)
    if combined:
        # file id via ONE FLAT CASE on the extracted path column, then
        # one InSet probe of the combined long key — emitted as a
        # single SQL string parsed JVM-side: building a 50k-element
        # .isin() Column-by-Column spent 41s in py4j Literal creation
        # (the round-2 plan-build lesson, re-measured here); the same
        # predicate as one F.expr parses in 0.4s. Non-DV files get id
        # -1 -> negative key, which can never match (combined keys are
        # all >= 0; row_index < 2^42 per file by construction).
        case = " ".join(
            "WHEN {} = 'file:{}' THEN {}".format(
                fp_col, p.replace("'", "''"), fid
            )
            for p, fid in file_ids
        )
        key = f"((CASE {case} ELSE -1 END) * {1 << 42}L + {ri_col})"
        conds.append(
            F.expr(f"{key} IN ({','.join(map(str, sorted(combined)))})")
        )
    return F.lit(True) if not conds else ~_balanced_or(conds)


def _parts_from_relpath(relpath: str) -> dict:
    """Partition values encoded in a data file's own relative path
    (``_pk_<col>=<hive-escaped value>`` segments). The path IS the
    durable record, so any code holding a relpath — commit, audit,
    repair — can recover the partition tuple without a side channel."""
    from urllib.parse import unquote

    vals: dict = {}
    for seg in relpath.split(os.sep):
        k, eq, v = seg.partition("=")
        if eq and k.startswith("_pk_"):
            v = unquote(v)
            vals[k[4:]] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
    return vals


# --------------------------------------------------------- partition spec
#
# Iceberg-style HIDDEN partitioning: a `partition_by` entry is either a
# plain column name (identity — the Hive/Delta behavior) or a TRANSFORM
# of a source column. The table is laid out by the DERIVED value, but
# readers filter on the SOURCE column and pruning translates the
# predicate — the user never has to know (or get wrong) the partition
# scheme. The canonical 100 TB fact layout is exactly this:
# `day(txn_ts)` (the reference's own fact stream is keyed by TXN_DATE,
# 04_sales_enrich_sp.sql:36-39; SURVEY §4 R5).
#
# Supported transforms (each ORDER-PRESERVING, which is what makes
# range-predicate translation sound):
#   day(col) / month(col) / year(col) / hour(col)  — timestamp/date
#   truncate(n, col)  — string prefix, or integer floor-to-multiple
# Derived field names follow Iceberg: ts -> ts_day / ts_month /
# ts_year / ts_hour; col -> col_trunc<n>.

_TIME_TRANSFORM_RE = re.compile(r"^(day|month|year|hour)\((\w+)\)$")
_TRUNCATE_RE = re.compile(r"^truncate\(\s*(\d+)\s*,\s*(\w+)\s*\)$")
#: derived-value format per time transform — ISO prefixes, so
#: LEXICOGRAPHIC order == chronological order and the string branch of
#: the pruning comparator is exact (hour uses Iceberg's dash form to
#: keep directory values space-free)
_TIME_FMT = {
    "day": "yyyy-MM-dd",
    "month": "yyyy-MM",
    "year": "yyyy",
    "hour": "yyyy-MM-dd-HH",
}


@dataclass(frozen=True)
class PartitionField:
    """One resolved entry of a partition spec."""

    name: str  # derived field name (manifest tuples, _pk_ dirs, predicates)
    source: str  # source data column
    transform: str  # identity | day | month | year | hour | truncate
    param: int | None = None  # truncate width


def _parse_partition_spec(spec: list[str]) -> list[PartitionField]:
    fields = []
    for s in spec:
        m = _TIME_TRANSFORM_RE.match(s)
        if m:
            tr, col = m.group(1), m.group(2)
            fields.append(PartitionField(f"{col}_{tr}", col, tr))
            continue
        m = _TRUNCATE_RE.match(s)
        if m:
            n, col = int(m.group(1)), m.group(2)
            if n <= 0:
                raise ValueError(f"truncate width must be positive: {s!r}")
            fields.append(PartitionField(f"{col}_trunc{n}", col, "truncate", n))
            continue
        if "(" in s:
            raise ValueError(f"unsupported partition transform {s!r}")
        fields.append(PartitionField(s, s, "identity"))
    names = [f.name for f in fields]
    if len(set(names)) != len(names):
        raise ValueError(f"partition spec derives duplicate field names: {names}")
    return fields


def _transform_expr(field: PartitionField, dtype) -> "F.Column":
    """The Spark expression deriving ``field``'s STRING partition value
    from its source column — evaluated only on the write path (the
    derived value never lives in data files, matching Iceberg: readers
    see source columns, manifests see derived tuples)."""
    c = F.col(field.source)
    if field.transform == "identity":
        return c.cast("string")
    if field.transform in _TIME_FMT:
        return F.date_format(c, _TIME_FMT[field.transform])
    # truncate: string prefix, or integer floor-to-multiple (Iceberg's
    # truncate semantics; pmod keeps negatives on the floored grid,
    # matching Python's v - (v % n))
    from pyspark.sql.types import StringType

    if isinstance(dtype, StringType):
        return F.substring(c, 1, field.param)
    return F.expr(
        f"CAST(`{field.source}` - pmod(`{field.source}`, {field.param}) AS STRING)"
    )


def _transform_literal(field: PartitionField, v):
    """Apply ``field``'s transform to a PREDICATE literal, returning the
    derived partition-value string it belongs to. Accepts datetime/date
    objects or ISO strings for time transforms."""
    if v is None:
        return None
    if field.transform == "identity":
        return v
    if field.transform in _TIME_FMT:
        if isinstance(v, (_dt.datetime, _dt.date)):
            # a date OBJECT is day-granular: on an hour() table it is
            # exactly the coarse literal the string branch refuses —
            # strftime'ing %H would silently name the midnight
            # partition instead (the r10 guard covered strings only)
            if field.transform == "hour" and not isinstance(
                v, _dt.datetime
            ):
                raise ValueError(
                    f"literal {v!r} is coarser than the hour() partition "
                    "transform; supply a datetime with hour granularity"
                )
            py_fmt = {
                "day": "%Y-%m-%d",
                "month": "%Y-%m",
                "year": "%Y",
                "hour": "%Y-%m-%d-%H",
            }[field.transform]
            return v.strftime(py_fmt)
        s = str(v).strip().replace("T", " ")
        if not re.match(r"^\d{4}(-\d{2}(-\d{2}([ ]\d{2}.*)?)?)?$", s):
            raise ValueError(
                f"cannot derive {field.transform}() from literal {v!r}"
            )
        # a literal COARSER than the transform's granularity (a date-only
        # bound on an hour(ts) table) cannot name one partition: deriving
        # 'yyyy-MM-dd-' would make '=' silently match nothing. Refuse —
        # the caller supplies a literal at-or-finer than the transform.
        need = {"year": 4, "month": 7, "day": 10, "hour": 13}[field.transform]
        if len(s) < need:
            raise ValueError(
                f"literal {v!r} is coarser than the {field.transform}() "
                f"partition transform; supply at least {field.transform} "
                "granularity"
            )
        width = {"day": 10, "month": 7, "year": 4}.get(field.transform)
        if width is not None:
            return s[:width]
        return f"{s[:10]}-{s[11:13]}"  # hour
    if isinstance(v, str):
        return v[: field.param]
    return str(int(v) - (int(v) % field.param))


def _translate_conjunct(field: PartitionField, op: str, value) -> tuple:
    """Rewrite a source-column conjunct into a CONSERVATIVE conjunct on
    the derived field. Sound because every transform is order-
    preserving: rows with ``ts >= X`` can only live in partitions with
    ``day(ts) >= day(X)``; strict bounds relax to inclusive because the
    boundary partition may still hold matching rows. The result is a
    file-granular SUPERSET — callers must (and do) apply the row filter;
    exact surfaces (drop_partitions, row_count) refuse translated
    predicates instead."""
    if op == "=":
        return (field.name, "=", _transform_literal(field, value))
    if op == "in":
        return (
            field.name,
            "in",
            sorted({_transform_literal(field, v) for v in value}, key=str),
        )
    if op in ("<", "<="):
        return (field.name, "<=", _transform_literal(field, value))
    if op in (">", ">="):
        return (field.name, ">=", _transform_literal(field, value))
    raise ValueError(f"unsupported partition op {op!r}")


def _partition_match(vals: dict, conjuncts: list[tuple]) -> bool:
    """EXACT partition predicate over a file's recorded partition tuple
    (unlike :func:`_file_may_match` this is not conservative — the tuple
    fully determines membership). Conjuncts are ``(col, op, value)`` with
    op in ``= in < <= > >=``; values compare numerically when both sides
    parse as numbers (partition dir values are strings — lexicographic
    "10" < "9" would misprune), else as strings (correct for ISO dates).
    A conjunct on a non-partition column keeps the file (pruning must
    never be the layer that drops rows)."""

    def _cmp(a: str, b) -> float | None:
        if a is None:
            return None
        # Exact integer comparison FIRST: float(a) - float(b) loses
        # precision above 2^53, so '=' on snowflake-id / hash-key
        # partition values could match a NEIGHBORING partition —
        # drop_partitions would delete the wrong data, and this exact
        # (not conservative) pruned-read path would silently skip files.
        try:
            ia, ib = int(str(a)), int(str(b))
            return (ia > ib) - (ia < ib)
        except (TypeError, ValueError):
            pass
        try:
            fa, fb = float(a), float(b)
            return (fa > fb) - (fa < fb)
        except (TypeError, ValueError):
            b = str(b)
            return (a > b) - (a < b)

    for col, op, value in conjuncts:
        if col not in vals:
            continue
        have = vals[col]
        if op == "=":
            if value is None:
                if have is not None:
                    return False
            elif have is None or _cmp(have, value) != 0:
                return False
        elif op == "in":
            if have is None or not any(_cmp(have, v) == 0 for v in value):
                return False
        elif op in ("<", "<=", ">", ">="):
            d = _cmp(have, value)
            if d is None:
                return False
            if (
                (op == "<" and not d < 0)
                or (op == "<=" and not d <= 0)
                or (op == ">" and not d > 0)
                or (op == ">=" and not d >= 0)
            ):
                return False
        else:
            raise ValueError(f"unsupported partition op {op!r}")
    return True


#: footer key under which Spark stores the schema of the frame that
#: wrote a parquet file: the string Spark's own schema inference reads
#: back (it converts the parquet types only when the key is absent)
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_BATCH_DIR_RE = re.compile(r"b-[0-9a-f]+")


def _footer_facts(abs_path: str) -> tuple[dict, str | None]:
    """``(stats, schema)`` from one driver-side footer read:
    :func:`_footer_stats` and the Spark schema JSON the file carries
    (canonical key order; None for a file Spark did not write)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    raw = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
    schema = json.dumps(json.loads(raw), sort_keys=True) if raw else None
    return _footer_stats(md), schema


def _batch_of(f: str) -> str | None:
    """The batch dir of a data file this format wrote (``data/b-<id>``,
    with the ``_pk_<field>=<value>`` levels of a partitioned write
    stripped): all its files come from ONE Spark write, so they share
    one schema. None for any other layout (linked foreign files)."""
    d = os.path.dirname(f)
    while os.path.basename(d).startswith("_pk_"):
        d = os.path.dirname(d)
    return d if _BATCH_DIR_RE.fullmatch(os.path.basename(d)) else None


class _SchemaConflict(ValueError):
    """Two recorded schemas that :func:`_merge_type` does not resolve."""


def _nullable(t):
    """Spark's ``DataType.asNullable`` over the JSON form: a parquet scan
    surfaces every field, array element and map value as nullable."""
    if isinstance(t, dict):
        if t["type"] == "struct":
            return {
                **t,
                "fields": [
                    {**f, "type": _nullable(f["type"]), "nullable": True}
                    for f in t["fields"]
                ],
            }
        if t["type"] == "array":
            return {
                **t, "elementType": _nullable(t["elementType"]),
                "containsNull": True,
            }
        if t["type"] == "map":
            return {
                **t,
                "keyType": _nullable(t["keyType"]),
                "valueType": _nullable(t["valueType"]),
                "valueContainsNull": True,
            }
    return t


def _merge_type(a, b):
    """Spark's parquet schema merge (``StructType.merge``) over the JSON
    form, for the cases it resolves without widening: structs union
    their fields in order (left fields first, the left field's metadata
    kept), arrays and maps merge element-wise, equal types stay. Any
    other pair — a type change, decimal widening, or two names equal
    only up to case (how those merge is a session setting) — raises
    :class:`_SchemaConflict`, and the caller plans through Spark's own
    footer merge instead."""
    if a == b:
        return a
    kind = a.get("type") if isinstance(a, dict) else None
    if kind is None or not isinstance(b, dict) or b.get("type") != kind:
        raise _SchemaConflict(f"{a!r} vs {b!r}")
    if kind == "array":
        return {
            **a,
            "elementType": _merge_type(a["elementType"], b["elementType"]),
            "containsNull": a["containsNull"] or b["containsNull"],
        }
    if kind == "map":
        return {
            **a,
            "keyType": _merge_type(a["keyType"], b["keyType"]),
            "valueType": _merge_type(a["valueType"], b["valueType"]),
            "valueContainsNull": (
                a["valueContainsNull"] or b["valueContainsNull"]
            ),
        }
    if kind != "struct":
        raise _SchemaConflict(f"{a!r} vs {b!r}")
    right = {f["name"]: f for f in b["fields"]}
    left = {f["name"] for f in a["fields"]}
    if len({n.lower() for n in left | set(right)}) != len(left | set(right)):
        raise _SchemaConflict("field names equal up to case")
    out = [
        f
        if f["name"] not in right
        else {
            **f,
            "type": _merge_type(f["type"], right[f["name"]]["type"]),
            "nullable": f["nullable"] or right[f["name"]]["nullable"],
        }
        for f in a["fields"]
    ]
    out += [g for g in b["fields"] if g["name"] not in left]
    return {**a, "fields": out}


def _recorded_schema(
    files: list[str], paths: list[str], schemas: dict | None
):
    """The schema a mergeSchema scan of ``paths`` (``files`` as manifest
    keys) would infer, folded from the recorded per-batch ``schemas``
    in sorted absolute-path order — the order Spark merges footers in.
    None when a file's batch has no entry or the fold conflicts."""
    if not schemas:
        return None
    order: list[str] = []
    for _p, f in sorted(zip(paths, files)):
        sch = schemas.get(_batch_of(f))
        if sch is None:
            return None
        if sch not in order:
            order.append(sch)
    return _merged_schema(order)


def _merged_schema(schemas: list[str]):
    """The StructType a mergeSchema scan infers from files carrying
    ``schemas`` (in the scan's sorted-path order), or None on a
    :class:`_SchemaConflict`."""
    from pyspark.sql.types import StructType

    try:
        merged = reduce(
            _merge_type, [_nullable(json.loads(s)) for s in schemas]
        )
    except _SchemaConflict:
        return None
    return StructType.fromJson(merged)


def _footer_stats(md) -> dict:
    """Column [min, max] from a parquet file's row-group footers — pure
    metadata (no data pages read), the same stats Delta stores in its
    transaction log. Only JSON-stable scalar types are kept. The file's
    row count rides along under the reserved key ``_nrows`` (Delta's
    ``numRecords``): it is what makes ``COUNT(*)`` — the most common
    query against a 100 TB table — a manifest read instead of a scan.
    ``md`` is the file's pyarrow ``FileMetaData``."""
    mins: dict = {}
    maxs: dict = {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            try:
                lo, hi = st.min, st.max
            except NotImplementedError:
                continue  # pyarrow cannot extract it (decimal(p <= 18))
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    continue
            if not isinstance(lo, (int, float, str, bool)):
                continue
            name = col.path_in_schema
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    out = {c: [mins[c], maxs[c]] for c in mins}
    out["_nrows"] = [md.num_rows, md.num_rows]
    return out


#: Bloom sizing: 8192 bits (1 KiB) per 850 distinct values, ~9.64 bits
#: per value, with k = 4 hashes: (1 - e^(-4/9.64))^4 ~ 1.33% false
#: positives per file at ANY file size. A column's bitset grows with the
#: file's distinct non-null count above the 1 KiB floor, so a file of
#: <= 850 distinct values keeps the fixed 1 KiB bloom older manifests
#: hold. Manifest cost above the floor: ~2.4 hex characters per distinct
#: value per indexed column.
_BLOOM_BITS = 8192
_BLOOM_VALUES = 850
_BLOOM_K = 4


def _bloom_hashes(value, nbits: int) -> list[int]:
    import hashlib

    out = []
    for salt in range(_BLOOM_K):
        h = hashlib.md5(f"{salt}:{value!r}".encode()).digest()
        out.append(int.from_bytes(h[:8], "big") % nbits)
    return out


def _file_bloom(abs_path: str, cols: list[str]) -> dict:
    """Per-column bloom filter over a file's values (hex-packed bitset).
    Unlike footer stats this READS the indexed columns — a write-time
    one-off, amortized over every point-lookup read after it (the
    Delta/Iceberg bloom-index trade).

    Each bitset holds ``ceil(n * 9.64)`` bits for the column's ``n``
    distinct non-null values (k = 4 hashes), rounded up to whole bytes
    and at least 1 KiB: ~1.33% false positives per file whatever its
    size, for ~2.4 manifest hex characters per distinct value."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(abs_path, columns=[c for c in cols])
    out = {}
    for c in tbl.column_names:
        values = pc.unique(tbl[c].drop_null()).to_pylist()
        nbytes = max(
            _BLOOM_BITS // 8,
            -(-len(values) * _BLOOM_BITS // (_BLOOM_VALUES * 8)),
        )
        bits = bytearray(nbytes)
        for v in values:
            for h in _bloom_hashes(v, nbytes * 8):
                bits[h >> 3] |= 1 << (h & 7)
        out[c] = bits.hex()
    return out


def _bloom_may_contain(bloom_hex: str, value) -> bool:
    bits = bytes.fromhex(bloom_hex)
    return all(
        bits[h >> 3] & (1 << (h & 7))
        for h in _bloom_hashes(value, len(bits) * 8)
    )


def _file_may_match(
    stats: dict | None, col: str, op: str, value, bloom: dict | None = None
) -> bool:
    """Conservative skip test: False ONLY when the file's [min, max]
    range (or, for ``=``, its bloom filter) proves no row can satisfy
    ``col op value``. Missing stats keep the file (never an incorrect
    skip)."""
    if op == "=" and bloom and col in bloom:
        if not _bloom_may_contain(bloom[col], value):
            return False
    if not stats or col not in stats:
        return True
    lo, hi = stats[col]
    try:
        if op == "=":
            return lo <= value <= hi
        if op == "<":
            return lo < value
        if op == "<=":
            return lo <= value
        if op == ">":
            return hi > value
        if op == ">=":
            return hi >= value
    except TypeError:
        return True  # incomparable types: keep the file
    raise ValueError(f"unsupported skip op {op!r} (use = < <= > >=)")


def _schema_refs(schemas: dict | None, key: str) -> dict:
    """Manifest form of a ``{batch: schema}`` map: each distinct schema
    stored once under ``schema_defs`` and referenced by index per batch
    under ``key`` (a table of 10^4 batches and one schema stores it
    once). Empty when there is nothing to record."""
    if not schemas:
        return {}
    defs: list = []
    index: dict = {}
    refs: dict = {}
    for b, sch in sorted(schemas.items()):
        if sch not in index:
            index[sch] = len(defs)
            defs.append(json.loads(sch))
        refs[b] = index[sch]
    return {key: refs, "schema_defs": defs}


def _schemas_from(body: dict, key: str) -> dict:
    """Inverse of :func:`_schema_refs` over a manifest (or shard) body."""
    defs = [
        json.dumps(d, sort_keys=True) for d in body.get("schema_defs", [])
    ]
    return {b: defs[i] for b, i in body.get(key, {}).items()}


def _live_schemas(schemas: dict | None, files: list[str]) -> dict:
    """The entries of ``schemas`` whose batch still holds a live file."""
    if not schemas:
        return {}
    batches = {_batch_of(f) for f in files}
    return {b: sch for b, sch in schemas.items() if b in batches}


def _align_columns(a: DataFrame, b: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Give two frames the same column set (missing columns become
    typed NULLs — the read path's schema-merge contract) so a
    multiset ``exceptAll`` across a schema-evolution boundary compares
    rows the way a merged read would surface them."""
    for fld in b.schema.fields:
        if fld.name not in a.columns:
            a = a.withColumn(fld.name, F.lit(None).cast(fld.dataType))
    for fld in a.schema.fields:
        if fld.name not in b.columns:
            b = b.withColumn(fld.name, F.lit(None).cast(fld.dataType))
    return a, b.select(*a.columns)


#: column types whose pyarrow parquet encoding (physical type and
#: logical annotation) equals Spark's own, with the Arrow type a
#: pyarrow read infers back from a Spark-written file (the footer's
#: ``ARROW:schema`` then changes nothing a pyarrow read returns).
#: Timestamps qualify while Spark writes them as INT96. Decimals do
#: not: pyarrow writes p <= 18 as FIXED_LEN_BYTE_ARRAY, Spark as
#: INT32/INT64.
_ARROW_WRITE_TYPES = {
    "boolean": "bool",
    "byte": "int8",
    "short": "int16",
    "integer": "int32",
    "long": "int64",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "binary",
    "date": "date32",
    "timestamp": "timestamp[ns]",
}
#: optimized-plan nodes that may emit more rows than they read, so the
#: plan's size estimate does not bound the batch
_ROW_MULTIPLYING_NODES = frozenset(
    {
        "Generate", "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow",
        "FlatMapCoGroupsInArrow", "FlatMapGroupsInPandasWithState",
        "BatchEvalPythonUDTF", "ArrowEvalPythonUDTF",
    }
)
#: ids of the RDDs under ``LogicalRDD`` leaves whose origin plan the
#: caller has checked with :func:`_plan_bounded` (see
#: :func:`_checked_origin`)
_CHECKED_RDDS: ContextVar[frozenset] = ContextVar(
    "_CHECKED_RDDS", default=frozenset()
)


def _plan_bounded(plan) -> bool:
    """True when no node of ``plan`` (a JVM logical or physical plan)
    may emit more rows than it reads, so the plan's size estimate
    bounds its output. A ``LogicalRDD`` leaf — a ``foreachBatch``
    micro-batch, a checkpointed frame — carries stats estimated from
    an origin plan this walk cannot see, so it counts as bounded only
    when its RDD is in :data:`_CHECKED_RDDS`; a cached relation is
    walked through the plan it caches."""
    checked = _CHECKED_RDDS.get()
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name in _ROW_MULTIPLYING_NODES:
            return False
        if name == "LogicalRDD" and node.rdd().id() not in checked:
            return False
        if name == "InMemoryRelation":
            todo.append(node.cachedPlan())
        elif name == "AdaptiveSparkPlan":
            todo.append(node.inputPlan())
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return True


@contextlib.contextmanager
def _checked_origin(df: DataFrame):
    """Within the block, count ``df``'s own ``LogicalRDD`` leaf as
    bounded by its stats. For a ``foreachBatch`` micro-batch whose
    stream plan the caller found bounded with :func:`_plan_bounded`:
    the micro-batch plan is that plan over one batch of source rows."""
    root = df._jdf.logicalPlan()
    if root.nodeName() != "LogicalRDD":
        yield
        return
    token = _CHECKED_RDDS.set(_CHECKED_RDDS.get() | {root.rdd().id()})
    try:
        yield
    finally:
        _CHECKED_RDDS.reset(token)


def _write_small_batch(df: DataFrame, out: str) -> list[str] | None:
    """Write ``df`` to the new dir ``out`` from the driver when it is
    small: ONE collect job (``toArrow``) and a pyarrow write per Spark
    partition, instead of a Spark write job with its task setup and
    two-phase committer. The manifest publish is the commit either way,
    so the committer's rename and ``_SUCCESS`` marker buy nothing here.
    Returns the file names written, or None — and writes nothing — when
    the batch is not provably small and Spark-encodable, in which case
    the caller writes it through Spark.

    The gate: every column's type is in :data:`_ARROW_WRITE_TYPES` (and
    carries no field metadata), the codec is Spark's default snappy,
    the optimized plan is :func:`_plan_bounded` (no row-multiplying
    node, no unchecked ``LogicalRDD``), and its ``sizeInBytes``
    estimate is at most ``spark.sql.files.openCostInBytes`` — Spark's
    own size of a file whose cost is all fixed overhead.

    The files are ``df.write.parquet``'s files and rows per file: one
    ``part-<pid>-<uuid>-c000.snappy`` file per non-empty partition,
    plus partition 0 even when empty (a Spark write task always opens
    partition 0's file), rows in partition order; the footer carries
    the schema of the JVM plan's output (the optimizer may tighten
    nullability) under Spark's row-metadata key and the Spark version
    (so reads apply no datetime rebase). Their byte sizes differ from
    parquet-mr's. A float column holding NaN gets no min/max statistics
    in that file: pyarrow's would leave the NaN out, and a skip on them
    could drop NaN rows, which Spark orders above every number."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    spark = df.sparkSession
    sql_conf = spark._jsparkSession.sessionState().conf()
    if (
        spark.conf.get("spark.sql.parquet.compression.codec").lower()
        != "snappy"
        or sql_conf.maxRecordsPerFile() > 0
    ):
        return None
    plan = df._jdf.queryExecution().optimizedPlan()
    row_meta = plan.schema().json()
    fields = json.loads(row_meta)["fields"]
    kinds = {f["type"] if isinstance(f["type"], str) else "" for f in fields}
    allowed = set(_ARROW_WRITE_TYPES)
    if kinds & {"date", "timestamp"}:
        if any(
            spark.conf.get(f"spark.sql.parquet.{k}RebaseModeInWrite")
            != "CORRECTED"
            for k in ("datetime", "int96")
        ):
            return None
        if spark.conf.get("spark.sql.parquet.outputTimestampType") != "INT96":
            allowed.discard("timestamp")
    names = [f["name"].lower() for f in fields]
    if (
        not kinds <= allowed
        or any(f["metadata"] for f in fields)
        or len(set(names)) != len(names)
        or plan.stats().sizeInBytes() > sql_conf.filesOpenCostInBytes()
        or not _plan_bounded(plan)
    ):
        return None

    pid = "_lh_pid"
    while pid in names:
        pid = "_" + pid
    table = df.withColumn(pid, F.spark_partition_id()).toArrow()
    ids = table.column(pid).to_numpy()
    table = table.drop_columns([pid])
    if (np.diff(ids) < 0).any():
        order = np.argsort(ids, kind="stable")
        table, ids = table.take(order), ids[order]
    version = re.match(r"\d+\.\d+\.\d+", spark.version).group()
    schema = pa.schema(
        [
            pa.field(
                f["name"],
                pa.type_for_alias(_ARROW_WRITE_TYPES[f["type"]]),
                f["nullable"],
            )
            for f in fields
        ],
        metadata={
            _SPARK_SCHEMA_KEY: row_meta,
            b"org.apache.spark.version": version,
        },
    )
    try:
        table = table.cast(schema)
    except pa.ArrowInvalid:
        return None  # a timestamp outside the nanosecond range
    floats = [
        f["name"] for f in fields if f["type"] in ("float", "double")
    ]
    pids, starts = (a.tolist() for a in np.unique(ids, return_index=True))
    ranges = dict(zip(pids, zip(starts, [*starts[1:], len(ids)])))
    ranges.setdefault(0, (0, 0))  # a Spark write task always opens it
    job = uuid.uuid4()
    os.makedirs(out)  # the batch dir must be new, as ``mode("error")``
    written = []
    for p, (s, e) in sorted(ranges.items()):
        part = table.slice(s, e - s)
        nan_cols = {
            c for c in floats if pc.any(pc.is_nan(part.column(c))).as_py()
        }
        name = f"part-{p:05d}-{job}-c000.snappy.parquet"
        pq.write_table(
            part,
            os.path.join(out, name),
            compression="snappy",
            use_deprecated_int96_timestamps=True,
            write_statistics=[
                f["name"] for f in fields if f["name"] not in nan_cols
            ],
        )
        written.append(name)
    return written


class SnapshotTable:
    """A versioned parquet table rooted at ``path``.

    All writes go through :meth:`_commit`: write new immutable data
    files first, then publish a manifest naming the version's full file
    set. A crash before the manifest publishes leaves orphan data files
    (cleaned by :meth:`vacuum`) and NO visible change — readers always
    see the last committed version.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bloom_cols: list[str] | None = None,
        commit_protocol: CommitProtocol | None = None,
        partition_by: list[str] | None = None,
        check_constraints: dict[str, str] | None = None,
        cdf: bool = False,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        #: columns to bloom-index on every future write of THIS handle
        #: (an index policy, not table state: existing files keep
        #: whatever index they were written with)
        self.bloom_cols = list(bloom_cols or [])
        #: how manifests become visible — see :class:`CommitProtocol`
        #: for the per-backend story (POSIX O_EXCL here; S3 conditional
        #: PUT or a DynamoDB-style lock at the 100 TB deployment)
        self.commit_protocol = commit_protocol or PosixCommit()
        #: Hive/Delta-style partition columns. TABLE state, not handle
        #: state: persisted in every manifest, re-read from the latest
        #: manifest when a handle is opened without it, and a handle
        #: opened WITH a conflicting spec fails fast (silently writing
        #: unaligned files would poison every later partition operation).
        #: Unlike Hive, partition columns STAY in the data files (the
        #: Iceberg choice) — readers need no directory-parsing magic and
        #: un-partitioned engines (DuckDB oracles) read the same files.
        self.partition_by = list(partition_by or [])
        #: checkpoint sharding threshold: a FULL manifest of a
        #: partitioned table with more than this many files is written
        #: as per-partition SHARD sidecars + a small shard index
        #: (Iceberg's manifest-list design) so a pruned read loads only
        #: the matching partitions' metadata — at 10^6 files the
        #: one-partition read stops paying a table-wide JSON parse.
        #: Handle state (a layout policy, like ``bloom_cols``).
        self.shard_checkpoint_files = _SHARD_CHECKPOINT_FILES
        #: shard paths loaded by the most recent manifest resolution —
        #: observability for tests/ops (DID that pruned read stay
        #: partition-local?)
        self.last_shards_loaded: list[str] = []
        existing = self._table_partition_by()
        if existing is not None:
            if partition_by is not None and list(partition_by) != existing:
                raise ValueError(
                    f"table at {self.path} is partitioned by {existing}; "
                    f"handle requested {list(partition_by)}"
                )
            self.partition_by = existing
        #: write-side CHECK constraints {name: sql_expr} — TABLE state
        #: (Delta's ALTER TABLE ADD CONSTRAINT): persisted in every
        #: manifest, re-read when a handle opens without them, and a
        #: handle opened with a CONFLICTING set fails fast. A row where
        #: the expression is FALSE rejects the WHOLE write before any
        #: file lands (NULL passes — the SQL-standard CHECK rule).
        self.check_constraints = dict(check_constraints or {})
        #: column mapping {logical: physical} — TABLE state enabling
        #: RENAME COLUMN as a metadata-only commit (Delta column
        #: mapping, one level: physical = the creation-time name,
        #: forever). Data files ALWAYS store physical names; reads
        #: present the logical view, writes translate back. Empty on
        #: every table until the first rename (zero overhead).
        self.column_map: dict[str, str] = dict(
            self._table_column_map() or {}
        )
        #: physical column names DROPPED from the logical view — the
        #: drop twin of ``column_map`` (metadata-only DROP COLUMN):
        #: files keep the data, readers never see it, writers may not
        #: reuse the name. TABLE state like the map.
        self.dropped_cols: list[str] = list(
            (self._table_dropped_cols() or [])
        )
        stored_cc = self._table_constraints()
        if stored_cc is not None:
            if check_constraints is not None and dict(check_constraints) != stored_cc:
                raise ValueError(
                    f"table at {self.path} has CHECK constraints "
                    f"{stored_cc}; handle requested {check_constraints} "
                    "(use add_constraint/drop_constraint to evolve)"
                )
            self.check_constraints = stored_cc
        #: persisted CHANGE DATA FEED mode — TABLE state (Delta's
        #: ``delta.enableChangeDataFeed``): when on, every commit that
        #: removes rows (COW delete/merge, DV commits, partition drops)
        #: also writes its change rows as parquet sidecars under
        #: ``_changes/``, so :meth:`changes` survives the pre-image
        #: files being vacuumed (within manifest retention). Off by
        #: default: compute-on-read costs nothing at write time.
        self.cdf = bool(cdf) or bool(self._table_cdf())
        #: resolved spec — identity fields plus Iceberg-style transforms
        #: (``day(ts)``, ``truncate(4, sku)``, …); field NAMES (``ts_day``)
        #: are what manifests record and partition predicates target
        self._pfields = _parse_partition_spec(self.partition_by)

    @property
    def partition_field_names(self) -> list[str]:
        """Derived partition field names (= the spec for identity-only
        tables) — the vocabulary of ``partition_where`` predicates,
        ``partitions()`` output, and ``drop_partitions``."""
        return [f.name for f in self._pfields]

    def _translate_where(
        self, partition_where: list[tuple] | None
    ) -> list[tuple] | None:
        """Canonicalize read-path partition predicates: conjuncts naming
        a derived FIELD pass through; conjuncts naming a transform
        field's SOURCE column are rewritten conservatively
        (:func:`_translate_conjunct`) so ``ts >= X`` prunes a
        ``day(ts)``-partitioned table to the matching days. Conjuncts on
        other columns pass through (the comparator keeps those files)."""
        if not partition_where:
            return partition_where
        fields = {f.name: f for f in self._pfields}
        by_source = {}
        for f in self._pfields:
            if f.transform != "identity":
                by_source.setdefault(f.source, f)
        out = []
        for col, op, value in partition_where:
            if col not in fields and col in by_source:
                out.append(_translate_conjunct(by_source[col], op, value))
            else:
                out.append((col, op, value))
        return out

    def _table_partition_by(self) -> list[str] | None:
        """The committed table's partition spec (None if no version yet).
        Commit-local field, so the raw latest manifest suffices."""
        versions = self._versions()
        if not versions:
            return None
        return list(self._raw(versions[-1]).get("partition_by") or [])

    def _table_constraints(self) -> dict[str, str] | None:
        """The committed table's CHECK constraints (None if no version
        yet). Commit-local field like ``partition_by``."""
        versions = self._versions()
        if not versions:
            return None
        return dict(self._raw(versions[-1]).get("constraints") or {})

    def _table_column_map(self) -> dict[str, str] | None:
        """The committed table's logical->physical column map (None if
        no version yet). Commit-local field like ``partition_by``."""
        versions = self._versions()
        if not versions:
            return None
        return dict(self._raw(versions[-1]).get("column_map") or {})

    def _table_dropped_cols(self) -> list[str] | None:
        versions = self._versions()
        if not versions:
            return None
        return list(self._raw(versions[-1]).get("dropped_cols") or [])

    def _table_cdf(self) -> bool:
        versions = self._versions()
        if not versions:
            return False
        return bool(self._raw(versions[-1]).get("cdf"))

    def refresh_metadata(self) -> None:
        """Re-read TABLE metadata (partition spec / CHECK constraints /
        column map / dropped columns / CDF mode) from the latest
        manifest into this handle — the recovery step after a
        concurrent metadata commit made this handle's cache stale
        (:meth:`_commit` aborts a data commit whose cached metadata
        diverged from the head rather than silently erasing the other
        writer's rename/constraint/drop)."""
        if not self._versions():
            return
        self.partition_by = self._table_partition_by() or []
        self._pfields = _parse_partition_spec(self.partition_by)
        self.check_constraints = self._table_constraints() or {}
        self.column_map = self._table_column_map() or {}
        self.dropped_cols = self._table_dropped_cols() or []
        self.cdf = self._table_cdf()

    def _meta_base(self) -> int:
        """Validate that this handle's cached table metadata matches the
        committed HEAD, and return that head version — the commit base
        every METADATA op must pin. A metadata op from a handle whose
        cache is stale (another handle renamed / constrained / dropped
        since it was opened) would otherwise persist the stale cache
        and silently erase the other writer's metadata commit; pinning
        the validated version also closes the window between this check
        and the publish (``_commit`` aborts metadata ops whose base is
        no longer the head)."""
        head_v = self._versions()[-1]
        head = self._raw(head_v)
        if (
            dict(head.get("constraints") or {}) != self.check_constraints
            or dict(head.get("column_map") or {}) != self.column_map
            or sorted(head.get("dropped_cols") or [])
            != sorted(self.dropped_cols)
            or list(head.get("partition_by") or []) != list(self.partition_by)
            or bool(head.get("cdf")) != bool(self.cdf)
        ):
            raise ConcurrentWriteError(
                "table metadata changed since this handle's snapshot "
                f"(table at v{head_v}); call refresh_metadata() and retry"
            )
        return head_v

    def _to_logical(self, df: DataFrame) -> DataFrame:
        """Physical file columns -> the table's logical view (no-op on
        tables that never renamed or dropped). One SIMULTANEOUS
        projection, never column-at-a-time renames: a name-swap chain
        (rename a->x then b->a) maps physical ``a``->``x`` and
        ``b``->``a`` — sequential renames would transit a duplicate
        column name and fail (or worse, mis-bind)."""
        if not self.column_map and not self.dropped_cols:
            return df
        return df.select(
            *[
                F.col(p).alias(l) if p != l else F.col(p)
                for p, l in self._logical_names(df.columns)
            ]
        )

    def _logical_names(self, physical: list[str]) -> list[tuple[str, str]]:
        """``(physical, logical)`` for every physical column the logical
        view keeps: dropped columns go, renamed ones take their logical
        name."""
        inv = {p: l for l, p in self.column_map.items()}
        dropped = set(self.dropped_cols)
        return [(c, inv.get(c, c)) for c in physical if c not in dropped]

    def _to_physical(self, df: DataFrame) -> DataFrame:
        """Logical write frame -> the physical names files store (the
        same simultaneous-projection discipline as
        :meth:`_to_logical`)."""
        if not self.column_map:
            return df
        m = self.column_map
        return df.select(
            *[
                F.col(c).alias(m[c]) if c in m else F.col(c)
                for c in df.columns
            ]
        )

    def _physical_name(self, col: str) -> str:
        return self.column_map.get(col, col)

    def rename_column(self, old: str, new: str) -> Snapshot:
        """RENAME COLUMN as a METADATA-ONLY commit (Delta column
        mapping, one mapping level): data files keep the physical
        (creation-time) name forever; every read presents ``new``,
        every write accepts ``new`` and translates back. No data moves
        — renaming a column of a 100 TB table is one JSON write.

        Refusals, loud not silent: renaming a partition SOURCE column,
        a bucket key, or a column a CHECK constraint mentions would
        silently desynchronize derived state that stores the old name
        — rewrite those definitions first."""
        if not self._versions():
            raise ValueError(
                f"table at {self.path} has no committed version yet — "
                "there is no schema to rename a column of; create() "
                "the table first (or just name the column differently)"
            )
        schema_cols = {f.name for f in self.table_schema().fields}
        if old not in schema_cols:
            raise ValueError(f"no column {old!r} to rename")
        if new in schema_cols:
            raise SchemaMismatchError(f"column {new!r} already exists")
        blockers = [f.source for f in self._pfields if f.source == old]
        if blockers:
            raise ValueError(
                f"cannot rename {old!r}: it is a partition source column"
            )
        if getattr(self, "bucket_col", None) == old:
            raise ValueError(f"cannot rename {old!r}: it is the bucket key")
        mentioned = [
            n
            for n, sql in self.check_constraints.items()
            # identifiers are case-insensitive in Spark SQL and may be
            # backtick-quoted — match both or the rename silently
            # desynchronizes the constraint
            if re.search(
                rf"(\b|`){re.escape(old)}(`|\b)", sql, re.IGNORECASE
            )
        ]
        if mentioned:
            raise ValueError(
                f"cannot rename {old!r}: CHECK constraint(s) {mentioned} "
                "mention it; drop and re-add them with the new name"
            )
        base_v = self._meta_base()
        old_map = dict(self.column_map)
        # chase through an earlier rename: physical stays the ORIGINAL
        physical = self.column_map.pop(old, old)
        self.column_map[new] = physical
        try:
            return self._commit("rename_column", base_v, [])
        except BaseException:
            self.column_map = old_map
            raise

    def drop_column(self, col: str) -> Snapshot:
        """DROP COLUMN as a METADATA-ONLY commit (the drop twin of
        :meth:`rename_column`): files keep the bytes, the logical view
        loses the column, writers may not reuse the name (it stays
        reserved — the data is still in the files, and a new column
        under the old name would resurrect it on translation).
        Dropping the physical payload is what :meth:`compact` does
        anyway — rewritten files are produced from the logical view.
        Same refusal set as rename: partition sources, bucket keys,
        and CHECK-constraint mentions must be rewritten first."""
        if not self._versions():
            raise ValueError(
                f"table at {self.path} has no committed version yet — "
                "there is no schema to drop a column from; create() "
                "the table first (or just omit the column)"
            )
        schema_cols = {f.name for f in self.table_schema().fields}
        if col not in schema_cols:
            raise ValueError(f"no column {col!r} to drop")
        if len(schema_cols) == 1:
            raise ValueError("cannot drop the only column")
        if any(f.source == col for f in self._pfields):
            raise ValueError(
                f"cannot drop {col!r}: it is a partition source column"
            )
        if getattr(self, "bucket_col", None) == col:
            raise ValueError(f"cannot drop {col!r}: it is the bucket key")
        mentioned = [
            n
            for n, sql in self.check_constraints.items()
            if re.search(
                rf"(\b|`){re.escape(col)}(`|\b)", sql, re.IGNORECASE
            )
        ]
        if mentioned:
            raise ValueError(
                f"cannot drop {col!r}: CHECK constraint(s) {mentioned} "
                "mention it; drop them first"
            )
        base_v = self._meta_base()
        old_map = dict(self.column_map)
        old_dropped = list(self.dropped_cols)
        physical = self.column_map.pop(col, col)
        self.dropped_cols = sorted(set(old_dropped) | {physical})
        try:
            return self._commit("drop_column", base_v, [])
        except BaseException:
            self.column_map = old_map
            self.dropped_cols = old_dropped
            raise

    def readd_column(self, name: str) -> Snapshot:
        """Re-introduce a column NAME whose physical identity is
        reserved — previously dropped, or left behind by a rename —
        under a FRESH physical identity (Delta's id-based column
        mapping, expressed as a uuid-suffixed physical name): old
        files' bytes stay hidden behind the old physical name, new
        writes land under the fresh one, and the logical schema regains
        ``name`` with the first evolving write (schemas are recorded per
        written batch here, so the column surfaces — NULL on old rows —
        once data arrives; Delta, which records a type with the column
        itself, shows it immediately). This closes the
        drop-then-recreate gap the one-level map refused:
        ``drop_column('v')`` then ``readd_column('v')`` then an
        evolving append with ``v`` never resurrects the dropped bytes.

        Metadata-only commit, any number of levels deep (a re-added
        column can be dropped and re-added again — each cycle reserves
        one more physical name). A name that is NOT reserved needs no
        ceremony: a plain ``schema_evolution=True`` append already
        introduces it, and this method says so rather than minting a
        pointless mapping."""
        if not self._versions():
            raise ValueError(
                f"table at {self.path} has no committed version yet — "
                "create() the table first (or just include the column)"
            )
        schema_cols = {f.name for f in self.table_schema().fields}
        if name in schema_cols:
            raise SchemaMismatchError(f"column {name!r} already exists")
        reserved = (
            set(self.column_map.values()) - set(self.column_map)
        ) | set(self.dropped_cols)
        if name not in reserved:
            raise ValueError(
                f"column name {name!r} is not reserved by any prior "
                "rename/drop — a schema_evolution=True write introduces "
                "it directly"
            )
        taken = (
            reserved
            | schema_cols
            | set(self.column_map)
            | set(self.column_map.values())
        )
        fresh = f"{name}__{uuid.uuid4().hex[:8]}"
        while fresh in taken:  # vanishingly unlikely; loop for principle
            fresh = f"{name}__{uuid.uuid4().hex[:8]}"
        base_v = self._meta_base()
        old_map = dict(self.column_map)
        self.column_map[name] = fresh
        try:
            return self._commit("readd_column", base_v, [])
        except BaseException:
            self.column_map = old_map
            raise

    def _enforce_constraints(self, df: DataFrame) -> None:
        """Reject a write whose rows violate any CHECK constraint — ONE
        aggregate pass over the batch (all constraints' violation
        counts in a single job), run only when constraints exist.
        Violation = expression strictly FALSE (NULL passes, the SQL
        CHECK rule). Enforced on EVERY write path — appends, merges,
        and internal COW rewrites alike (Delta's behavior: rewritten
        rows re-prove the invariant)."""
        if not self.check_constraints:
            return
        names = sorted(self.check_constraints)
        row = df.agg(
            *[
                F.sum(
                    F.when(
                        ~F.coalesce(
                            F.expr(self.check_constraints[n]), F.lit(True)
                        ),
                        1,
                    ).otherwise(0)
                ).alias(n)
                for n in names
            ]
        ).collect()[0]
        bad = {n: row[n] for n in names if row[n]}
        if bad:
            raise ConstraintViolationError(
                f"write rejected: CHECK constraint violation counts {bad} "
                f"(constraints: { {n: self.check_constraints[n] for n in bad} })"
            )

    def add_constraint(self, name: str, sql_expr: str) -> Snapshot:
        """ADD a CHECK constraint: validates ALL existing rows first
        (one scan — Delta's ADD CONSTRAINT does the same; an invariant
        the current data already violates is a lie), then records it
        as a metadata-only commit. Future writes enforce it."""
        if not self._versions():
            raise ValueError(
                f"table at {self.path} has no committed version yet — "
                "pass check_constraints={...} to the constructor so the "
                "first create() persists (and enforces) them"
            )
        if name in self.check_constraints:
            raise ValueError(f"constraint {name!r} already exists")
        base_v = self._meta_base()
        trial = dict(self.check_constraints)
        trial[name] = sql_expr
        old = self.check_constraints
        if self._versions():
            self.check_constraints = {name: sql_expr}
            try:
                self._enforce_constraints(self.read())
            except BaseException:
                self.check_constraints = old
                raise
        self.check_constraints = trial
        try:
            return self._commit("add_constraint", base_v, [])
        except BaseException:
            self.check_constraints = old
            raise

    def drop_constraint(self, name: str) -> Snapshot:
        """DROP a CHECK constraint — metadata-only commit."""
        if not self._versions():
            raise ValueError(
                f"table at {self.path} has no committed version yet — "
                "edit the constructor's check_constraints instead"
            )
        if name not in self.check_constraints:
            raise ValueError(f"no constraint {name!r}")
        base_v = self._meta_base()
        old = self.check_constraints
        self.check_constraints = {
            k: v for k, v in old.items() if k != name
        }
        try:
            return self._commit("drop_constraint", base_v, [])
        except BaseException:
            self.check_constraints = old
            raise

    def enable_cdf(self) -> Snapshot:
        """Turn ON persisted change-data-feed mode as a metadata-only
        commit (Delta's ``delta.enableChangeDataFeed``): every LATER
        commit that removes rows also writes its change rows as
        ``_changes/`` parquet sidecars, so :meth:`changes` keeps
        serving those commits after their pre-image files are vacuumed
        — the feed's retention boundary moves from file retention to
        manifest retention. Commits BEFORE this one stay
        compute-on-read (their pre-images were never persisted —
        exactly Delta's rule: CDF starts at the enabling version)."""
        if not self._versions():
            raise ValueError(
                f"table at {self.path} has no committed version yet — "
                "pass cdf=True to the constructor so the table starts "
                "in persisted-CDF mode"
            )
        if self.cdf:
            raise ValueError("persisted CDF is already enabled")
        base_v = self._meta_base()
        self.cdf = True
        try:
            return self._commit("enable_cdf", base_v, [])
        except BaseException:
            self.cdf = False
            raise

    # ---------------------------------------------------------------- io

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, _MANIFEST_DIR, f"v{version:010d}.json")

    def _versions(self) -> list[int]:
        mdir = os.path.join(self.path, _MANIFEST_DIR)
        if not os.path.isdir(mdir):
            return []
        return sorted(
            int(f[1:-5])
            for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        )

    def _resolve_v(self, version: int | None, as_of_ms: int | None) -> int:
        """Version-number resolution (latest / explicit / timestamp) —
        raw-manifest reads only, no snapshot fold."""
        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"no committed version at {self.path}")
        if version is None and as_of_ms is None:
            return versions[-1]
        if version is None:
            eligible = [
                v for v in versions
                if self._raw(v)["timestamp_ms"] <= as_of_ms
            ]
            if not eligible:
                raise LookupError(f"no version at or before {as_of_ms}")
            return eligible[-1]
        if version not in versions:
            raise LookupError(f"version {version} not in {versions}")
        return version

    def snapshot(self, version: int | None = None, as_of_ms: int | None = None) -> Snapshot:
        """Resolve a version (latest by default; ``as_of_ms`` = the last
        version committed at-or-before that wall-clock, i.e. time travel
        ``AT (TIMESTAMP => ...)``)."""
        return self._load(self._resolve_v(version, as_of_ms))

    def _raw(self, version: int) -> dict:
        """The manifest JSON as written — either a FULL manifest (has
        ``files``: the complete file set) or a DELTA manifest (has
        ``base_version``/``add``/``remove``): metadata proportional to
        the COMMIT, not the table. Cheap consumers that only need
        commit-local fields (txn stamps, the files a batch added) read
        this and never pay the fold."""
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    def _load(self, version: int, partition_where: list[tuple] | None = None) -> Snapshot:
        """Resolved snapshot. Delta manifests fold onto their base
        (chain length is bounded by the checkpoint interval, so a fold
        is <= ``_CHECKPOINT_EVERY`` JSON reads).

        ``partition_where`` makes the resolution itself partition-local:
        a sharded FULL manifest (``shard_index``) loads ONLY the shards
        whose partition tuple matches, and a delta fold filters its adds
        by the same predicate (partition tuples are recoverable from the
        add paths). The result is a PARTIAL snapshot — correct for a
        pruned read, never to be used as a commit base — so only
        :meth:`read` requests it."""
        m = self._raw(version)
        if "shard_index" in m:
            files: list[str] = []
            stats: dict = {}
            blooms: dict = {}
            parts: dict = {}
            dvs: dict = {}
            schemas: dict = {}
            loaded = []
            for shard, vals in sorted(m["shard_index"].items()):
                if partition_where and not _partition_match(
                    vals, partition_where
                ):
                    continue
                with open(os.path.join(self.path, _MANIFEST_DIR, shard)) as fh:
                    s = json.load(fh)
                loaded.append(shard)
                files += s["files"]
                stats.update(s.get("stats", {}))
                blooms.update(s.get("blooms", {}))
                parts.update(s.get("parts", {}))
                dvs.update(s.get("dvs", {}))
                schemas.update(_schemas_from(s, "schemas"))
            self.last_shards_loaded = loaded
            return Snapshot(
                m["version"], m["timestamp_ms"], m["operation"], sorted(files),
                stats, m.get("txn"), blooms, parts, dvs, schemas,
            )
        if "files" in m:
            files = m["files"]
            parts = m.get("parts", {})
            dvs = m.get("dvs", {})
            if partition_where:
                files = [
                    f
                    for f in files
                    if _partition_match(parts.get(f, {}), partition_where)
                ]
                parts = {f: parts[f] for f in files if f in parts}
                dvs = {f: dvs[f] for f in files if f in dvs}
            schemas = _schemas_from(m, "schemas")
            if partition_where:
                schemas = _live_schemas(schemas, files)
            return Snapshot(
                m["version"], m["timestamp_ms"], m["operation"], files,
                m.get("stats", {}), m.get("txn"), m.get("blooms", {}),
                parts, dvs, schemas,
            )
        base = self._load(m["base_version"], partition_where)
        removed = set(m.get("remove", []))
        add = m.get("add", [])
        if partition_where:
            add = [
                f
                for f in add
                if _partition_match(
                    m.get("add_parts", {}).get(f) or _parts_from_relpath(f),
                    partition_where,
                )
            ]
        files = sorted([f for f in base.files if f not in removed] + add)
        live = set(files)
        stats = {
            f: s for f, s in (base.stats or {}).items() if f in live
        }
        stats.update(
            {f: s for f, s in m.get("add_stats", {}).items() if f in live}
        )
        blooms = {
            f: b for f, b in (base.blooms or {}).items() if f in live
        }
        blooms.update(
            {f: b for f, b in m.get("add_blooms", {}).items() if f in live}
        )
        parts = {
            f: p for f, p in (base.parts or {}).items() if f in live
        }
        parts.update(
            {f: p for f, p in m.get("add_parts", {}).items() if f in live}
        )
        # DVs carry with their (immutable) file; a commit's add_dvs
        # UNION onto whatever the base already soft-deleted there
        dvs = {f: r for f, r in (base.dvs or {}).items() if f in live}
        for f, r in m.get("add_dvs", {}).items():
            if f in live:
                dvs[f] = _ranges_union(dvs.get(f, []), r)
        schemas = _live_schemas(
            {**(base.schemas or {}), **_schemas_from(m, "add_schemas")}, files
        )
        return Snapshot(
            m["version"], m["timestamp_ms"], m["operation"], files,
            stats, m.get("txn"), blooms, parts, dvs, schemas,
        )

    def _full_manifest_body(self, snap: Snapshot) -> dict:
        """The FULL-manifest JSON body for ``snap`` — inline
        (files/stats/blooms/parts/dvs/schemas) normally; past
        ``shard_checkpoint_files`` on a partitioned table, written as
        per-partition SHARD sidecars under ``_manifests/shards/`` with
        the body carrying only a ``shard_index`` (shard → partition
        tuple): the Iceberg manifest-list design. Shards are plain
        writes BEFORE the manifest publishes — invisible until the
        commit protocol picks a winner; a loser's shards are orphans
        that vacuum sweeps. Checkpoint metadata cost stays O(table), but
        a PRUNED read's metadata cost drops to O(matching partitions) —
        the piece that keeps a one-partition read off a table-wide JSON
        parse at 10^6 files."""
        shard_worthy = (
            self.partition_by
            and len(snap.files) > self.shard_checkpoint_files
        )
        if not shard_worthy:
            return {
                "files": snap.files,
                "stats": snap.stats,
                **({"blooms": snap.blooms} if snap.blooms else {}),
                **({"parts": snap.parts} if snap.parts else {}),
                **({"dvs": snap.dvs} if snap.dvs else {}),
                **_schema_refs(snap.schemas, "schemas"),
            }
        groups: dict = {}
        for f in snap.files:
            key = tuple(sorted((snap.parts or {}).get(f, {}).items()))
            groups.setdefault(key, []).append(f)
        sdir = os.path.join(self.path, _MANIFEST_DIR, "shards")
        os.makedirs(sdir, exist_ok=True)
        index: dict = {}
        for key, files in groups.items():
            name = os.path.join(
                "shards", f"v{snap.version:010d}-{uuid.uuid4().hex[:8]}.json"
            )
            with open(os.path.join(self.path, _MANIFEST_DIR, name), "w") as fh:
                fh.write(
                    json.dumps(
                        {
                            "files": files,
                            "stats": {
                                f: (snap.stats or {}).get(f)
                                for f in files
                                if f in (snap.stats or {})
                            },
                            "blooms": {
                                f: (snap.blooms or {}).get(f)
                                for f in files
                                if f in (snap.blooms or {})
                            },
                            "parts": {
                                f: (snap.parts or {}).get(f, {}) for f in files
                            },
                            "dvs": {
                                f: (snap.dvs or {}).get(f)
                                for f in files
                                if f in (snap.dvs or {})
                            },
                            **_schema_refs(
                                _live_schemas(snap.schemas, files), "schemas"
                            ),
                        }
                    )
                )
            index[name] = dict(key)
        return {"shard_index": index}

    def _commit(
        self,
        operation: str,
        base_version: int,
        add: list[str],
        remove: frozenset[str] | None = None,
        replace_all: bool = False,
        txn: dict | None = None,
        dv_add: dict | None = None,
        change_files: list[str] | None = None,
        commute_ok=None,
        merge_keys: list[str] | None = None,
    ) -> Snapshot:
        """Publish the next version as ``(base files - remove) + add``
        (or just ``add`` when ``replace_all``). Exclusive-create of the
        manifest makes the commit atomic; a racing writer makes one of
        the two retry. On retry against a moved HEAD, the file delta is
        re-applied to the NEW latest — sound only for operations that
        commute (append, and no-op deltas); anything else — removes,
        replace-all, metadata commits, and ``dv_add`` (a deletion-vector
        commit REMOVES ROWS, so it does not commute either) — raises
        :class:`ConcurrentWriteError` rather than silently dropping or
        resurrecting the other writer's rows (the lost-update anomaly).
        EXCEPT: a caller that can prove its delta logically commutes
        with the intervening commits passes ``commute_ok`` — a predicate
        over :meth:`file_changes` tuples for ``(base_version, latest]``
        — and the commit REBASES onto the new head instead of aborting
        (Delta's logical-conflict check: two DV deletes on disjoint
        files, partition-disjoint dynamic overwrites).

        Metadata safety (the lost-update twin): every manifest carries
        the table metadata (constraints / column map / dropped columns /
        partition spec / CDF mode). Metadata commits (``_META_OPS``)
        persist the handle's updated cache and therefore require the
        head not to have moved AT ALL; every DATA commit proves its
        cached metadata still MATCHES the head's before persisting it —
        a stale handle's append can never silently erase a concurrent
        rename/constraint/drop (call :meth:`refresh_metadata` and retry
        instead).

        ``dv_add`` = ``{relpath: [[start, end), ...]}`` row-index runs
        to soft-delete, unioned onto whatever the base already
        soft-deleted in those files; a file in ``remove`` drops its DV
        with it (COW rewrites and compaction PURGE deletion vectors).

        ``change_files`` — persisted CDF sidecar parquet (relative
        paths, already written) recording this commit's change rows;
        recorded in the manifest body so :meth:`changes` can serve the
        commit after its pre-image files are vacuumed.

        ``merge_keys`` — the PHYSICAL names of an upsert commit's key
        columns, recorded so ``changes(update_labels=True)`` can split
        the commit's delete/insert pairs into Delta's four-way
        ``update_preimage``/``update_postimage`` labels (the key pairing
        is unrecoverable from file diffs alone)."""
        remove = remove or frozenset()
        dv_add = dv_add or {}
        # one driver-side footer read per added file, outside the retry
        # loop: its stats, and the Spark schema its batch carries
        facts = {f: _footer_facts(os.path.join(self.path, f)) for f in add}
        add_schemas: dict = {}
        for f, (_stats, sch) in facts.items():
            if sch is not None and _batch_of(f) is not None:
                add_schemas.setdefault(_batch_of(f), sch)
        if (
            self.cdf
            and change_files is None
            and not replace_all
            and operation not in ("compact", "zorder")
            and (remove or dv_add)
        ):
            # persisted-CDF mode: write this commit's change rows as
            # sidecar parquet BEFORE publishing. Computed against
            # base_version — still valid after a commute rebase, whose
            # precondition is that no intervening commit touched our
            # files. Appends persist nothing (their change set IS the
            # added files); replace-all persists nothing (table-sized
            # by definition — consumers full-recompute those).
            change_files = self._persist_changes(
                base_version, add, remove, dv_add, add_schemas
            )
        # partition tuples are recoverable from the paths themselves
        add_parts = (
            {f: _parts_from_relpath(f) for f in add} if self.partition_by else {}
        )
        os.makedirs(os.path.join(self.path, _MANIFEST_DIR), exist_ok=True)
        while True:
            versions = self._versions()
            latest = versions[-1] if versions else 0
            if latest != base_version and (
                remove or replace_all or dv_add or operation in _META_OPS
            ):
                rebased = False
                if (
                    commute_ok is not None
                    and not replace_all
                    and operation not in _META_OPS
                ):
                    try:
                        intervening = self.file_changes(base_version, latest)
                    except (FileNotFoundError, LookupError):
                        intervening = None
                    if intervening is not None and commute_ok(intervening):
                        base_version = latest
                        rebased = True
                if not rebased:
                    raise ConcurrentWriteError(
                        f"{operation} based on v{base_version}, but table "
                        f"is at v{latest}; re-read and retry"
                    )
            if latest and operation not in _META_OPS:
                head = self._raw(latest)
                if (
                    dict(head.get("constraints") or {})
                    != self.check_constraints
                    or dict(head.get("column_map") or {}) != self.column_map
                    or sorted(head.get("dropped_cols") or [])
                    != sorted(self.dropped_cols)
                    or list(head.get("partition_by") or [])
                    != list(self.partition_by)
                    or bool(head.get("cdf")) != bool(self.cdf)
                ):
                    raise ConcurrentWriteError(
                        f"{operation}: table metadata (constraints / column "
                        "map / dropped columns / partition spec / CDF mode) "
                        f"changed since this handle's snapshot (table at "
                        f"v{latest}); call refresh_metadata() and retry"
                    )
            if replace_all or not latest:
                base_files, base_stats, base_blooms = [], {}, {}
                base_parts = {}
                base_dvs = {}
                base_schemas = {}
            else:
                base = self._load(latest)
                base_files = base.files
                base_stats = base.stats or {}
                base_blooms = base.blooms or {}
                base_parts = base.parts or {}
                base_dvs = base.dvs or {}
                base_schemas = base.schemas or {}
            files = [f for f in base_files if f not in remove] + add
            # stats/blooms carry over with their file; new files get fresh
            stats = {f: base_stats[f] for f in base_files if f in base_stats}
            blooms = {f: base_blooms[f] for f in base_files if f in base_blooms}
            parts = {f: base_parts[f] for f in base_files if f in base_parts}
            parts.update(add_parts)
            for f in add:
                stats[f] = facts[f][0]
                if self.bloom_cols:
                    blooms[f] = _file_bloom(
                        os.path.join(self.path, f), self.bloom_cols
                    )
            live = set(files)
            stats = {f: s for f, s in stats.items() if f in live}
            blooms = {f: b for f, b in blooms.items() if f in live}
            parts = {f: p for f, p in parts.items() if f in live}
            dvs = {f: r for f, r in base_dvs.items() if f in live}
            for f, r in dv_add.items():
                dvs[f] = _ranges_union(dvs.get(f, []), r)
            schemas = _live_schemas({**base_schemas, **add_schemas}, files)
            if txn is not None:
                # re-check idempotency inside the commit loop: a replayed
                # micro-batch racing its twin must not double-append
                seen = self.last_committed_batch(txn["app_id"])
                if seen is not None and txn["batch_id"] <= seen:
                    return self._load(latest)
            next_v = latest + 1
            snap = Snapshot(
                next_v, int(time.time() * 1000), operation, sorted(files),
                stats, txn, blooms, parts, dvs, schemas,
            )
            # DELTA manifest for incremental commits: metadata written is
            # proportional to the commit (add/remove lists + their stats),
            # not the table — the piece that keeps a 10^6-file table's
            # commit cost flat. A FULL manifest (complete file set) is
            # checkpointed every _CHECKPOINT_EVERY versions to bound the
            # reader's fold chain, and always for replace_all/first
            # commits (their delta IS the table).
            add_stats = {f: stats[f] for f in add if f in stats}
            add_blooms = {f: blooms[f] for f in add if f in blooms}
            if replace_all or not latest or next_v % _CHECKPOINT_EVERY == 0:
                # FULL manifests also record their own commit delta
                # (diffed for replace-all: a rollback re-adds files
                # that never left) so file_changes/changes never need
                # the PRIOR manifest — which vacuum may have expired
                # (the persisted-CDF retention story) and whose fold
                # a checkpoint-boundary diff would otherwise pay twice.
                if replace_all and latest:
                    prior_snap = self._load(latest)
                    prior = set(prior_snap.files)
                    add_rec = sorted(set(files) - prior)
                    remove_rec = sorted(prior - set(files))
                    # recorded dv delta = rows NEWLY dead relative to
                    # the prior version (a rollback restores files WITH
                    # their vectors; re-recording the full runs would
                    # make changes() re-emit long-dead rows as deletes);
                    # DVs on files in add_rec ride the add itself
                    prior_dvs = prior_snap.dvs or {}
                    added_set = set(add_rec)
                    dv_rec = {}
                    for f, r in dvs.items():
                        if f in added_set:
                            continue
                        new_runs = _ranges_subtract(r, prior_dvs.get(f, []))
                        if new_runs:
                            dv_rec[f] = new_runs
                else:
                    add_rec = sorted(add)
                    remove_rec = sorted(remove)
                    dv_rec = dv_add
                body_d = {
                    "version": snap.version,
                    "timestamp_ms": snap.timestamp_ms,
                    "operation": snap.operation,
                    "add": add_rec,
                    "remove": remove_rec,
                    **({"add_dvs": dv_rec} if dv_rec else {}),
                    **self._full_manifest_body(snap),
                }
            else:
                body_d = {
                    "version": snap.version,
                    "timestamp_ms": snap.timestamp_ms,
                    "operation": snap.operation,
                    "base_version": latest,
                    "add": sorted(add),
                    "remove": sorted(remove),
                    "add_stats": add_stats,
                    **({"add_blooms": add_blooms} if add_blooms else {}),
                    **({"add_parts": add_parts} if add_parts else {}),
                    **({"add_dvs": dv_add} if dv_add else {}),
                    **_schema_refs(add_schemas, "add_schemas"),
                }
            if self.partition_by:
                body_d["partition_by"] = self.partition_by
            if self.check_constraints:
                body_d["constraints"] = self.check_constraints
            if self.column_map:
                body_d["column_map"] = self.column_map
            if self.dropped_cols:
                body_d["dropped_cols"] = self.dropped_cols
            if self.cdf:
                body_d["cdf"] = True
            if merge_keys:
                body_d["merge_keys"] = list(merge_keys)
            if change_files:
                body_d["change_files"] = sorted(change_files)
            if txn is not None:
                body_d["txn"] = txn
            body = json.dumps(body_d)
            if self.commit_protocol.publish(self._manifest_path(next_v), body):
                return snap
            continue  # lost the race; retry against the new latest

    def _write_batch(self, df: DataFrame, spark_only: bool = False) -> list[str]:
        """Write ``df`` as a new immutable batch dir; return the parquet
        files created (relative paths). Partitioned tables route through
        :meth:`_write_batch_parts` (alignment is a write-path invariant);
        CHECK constraints are enforced here so EVERY write path —
        user appends and internal COW rewrites alike — proves them
        before any file lands. Frames arrive in LOGICAL names
        (constraints and partition sources speak logical) and are
        translated to the files' PHYSICAL names last.

        Two write paths, the same files and rows per file: an
        unpartitioned batch that is small and Spark-encodable
        (:func:`_write_small_batch`'s gate: allow-listed column types,
        a bounded plan, a size estimate within
        ``spark.sql.files.openCostInBytes``) is collected once as Arrow
        and written from the driver; every other batch is a Spark
        parquet write job. The two paths' files differ in byte size,
        and a scan packs its splits by file size, so the layout
        rewrites (:meth:`compact`, :meth:`cluster_zorder`) pass
        ``spark_only`` and keep parquet-mr's files: a later
        order-preserving compaction then packs them as it always
        has."""
        self._enforce_constraints(df)
        df = self._to_physical(df)
        if self.partition_by:
            return list(self._write_batch_parts(df))
        batch = os.path.join(_DATA_DIR, f"b-{uuid.uuid4().hex[:12]}")
        out = os.path.join(self.path, batch)
        files = None if spark_only else _write_small_batch(df, out)
        if files is None:
            df.write.mode("error").parquet(out)
            files = [f for f in os.listdir(out) if f.endswith(".parquet")]
        return [os.path.join(batch, f) for f in files]

    def _rows_in(self, files: list[str]) -> int:
        """Total row count of already-written data files, from their
        footers only (driver-local metadata read, no Spark job)."""
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(os.path.join(self.path, f)).metadata.num_rows
            for f in files
        )

    def _write_nonempty(self, df: DataFrame) -> list[str]:
        """:meth:`_write_batch`, but a write whose files hold no rows adds
        nothing: its batch dir is removed at once and ``[]`` returned.
        The frame's plan runs once — a ``limit(1).count()`` probe
        before the write would run it twice — and the footers answer
        emptiness on the driver."""
        files = self._write_batch(df)
        if self._rows_in(files):
            return files
        for b in {_batch_of(f) for f in files} - {None}:
            shutil.rmtree(os.path.join(self.path, b), ignore_errors=True)
        return []

    def _write_batch_parts(self, df: DataFrame) -> dict:
        """Partition-aligned batch write: every output file holds rows of
        exactly ONE partition tuple, and the manifest records that tuple
        per file (Delta's ``partitionValues``). Returns
        ``{relpath: {col: str|None}}``.

        The write derives each partition FIELD (identity value, or an
        Iceberg-style transform like ``day(ts)``) into a ``_pk_<field>``
        shadow and hands the SHADOWS to ``partitionBy`` — Spark consumes
        (drops) the dir-encoding columns, the real source columns stay in
        the parquet (Iceberg's layout), so readers — Spark here, the
        DuckDB oracle, any engine — see complete rows with no
        directory-parsing dependency. Values are recovered from the ``_pk_<c>=<v>`` path
        segments Spark wrote (hive-escaped; ``__HIVE_DEFAULT_PARTITION__``
        = NULL), which is exactly the string form the pruning comparator
        uses."""
        missing = [
            f.source for f in self._pfields if f.source not in df.columns
        ]
        if missing:
            raise SchemaMismatchError(
                f"write is missing partition column source(s) {missing}"
            )
        batch = os.path.join(_DATA_DIR, f"b-{uuid.uuid4().hex[:12]}")
        out = os.path.join(self.path, batch)
        dtypes = {fld.name: fld.dataType for fld in df.schema.fields}
        shadows = [f"_pk_{f.name}" for f in self._pfields]
        staged = df
        for f, s in zip(self._pfields, shadows):
            staged = staged.withColumn(
                s, _transform_expr(f, dtypes[f.source])
            )
        staged.write.mode("error").partitionBy(*shadows).parquet(out)
        found: dict = {}
        for root, _dirs, names in os.walk(out):
            for name in names:
                if name.endswith(".parquet"):
                    rel = os.path.normpath(
                        os.path.join(batch, os.path.relpath(root, out), name)
                    )
                    found[rel] = _parts_from_relpath(rel)
        return found

    # ------------------------------------------------------------- reads

    def read(
        self,
        version: int | None = None,
        as_of_ms: int | None = None,
        skip_where: list[tuple] | None = None,
        partition_where: list[tuple] | None = None,
        tag: str | None = None,
        branch: str | None = None,
    ) -> DataFrame:
        """The table at a version (default latest), with the merged
        schema of its live files — added-column evolution is transparent:
        old files surface NULLs. The schema is folded from the batch
        schemas the manifests record (:attr:`Snapshot.schemas`), so the
        read plans without launching a Spark job; only a live file with
        no recorded schema (or a merge conflict) sends it through
        Spark's footer-merge inference (:meth:`_read_files`).

        ``tag`` — read the version a named ref (:meth:`create_tag`)
        pins; mutually exclusive with ``version``/``as_of_ms``. Tagged
        versions are vacuum-proof, so this read cannot hit the
        retention boundary the way a raw ``version=`` pin can.

        ``branch`` — read a writable branch's CURRENT head
        (:meth:`create_branch`): sugar for ``branch(name).read(...)``,
        with the remaining arguments applied to the branch table.

        ``skip_where`` — ``[(col, op, value), ...]`` conjuncts — prunes
        files whose manifest [min, max] stats prove they hold no
        matching row, BEFORE Spark plans the scan (manifest-level data
        skipping, the Delta/Iceberg fast path; parquet row-group pruning
        still applies within surviving files). Callers must still apply
        the real ``.filter`` — skipping is file-granular, not row-exact.

        ``partition_where`` — same conjunct shape, evaluated against the
        manifest's EXACT per-file partition tuples: a partition-aligned
        predicate is row-exact at file granularity, so the scan Spark
        plans touches only matching partitions (the classic 100 TB fact
        table read: one day out of three years, without listing — or
        statting — the other thousand days' files). Resolution itself is
        pruned too: sharded checkpoints load only matching shards
        (:meth:`_load`). Callers still apply the ``.filter``: on an
        identity partition field it drops nothing; on a TRANSFORM
        field's source column (``ts`` on a ``day(ts)`` table) the
        conjunct is rewritten conservatively — ``ts >= X`` prunes to
        days ``>= day(X)`` — and the row filter is REQUIRED to trim the
        boundary partition."""
        if branch is not None:
            if tag is not None:
                raise ValueError("branch= is mutually exclusive with tag=")
            return self.branch(branch).read(
                version=version,
                as_of_ms=as_of_ms,
                skip_where=skip_where,
                partition_where=partition_where,
            )
        if tag is not None:
            if version is not None or as_of_ms is not None:
                raise ValueError(
                    "tag= is mutually exclusive with version=/as_of_ms="
                )
            version = self._tag_version(tag)
        if partition_where:
            snap = self._load(
                self._resolve_v(version, as_of_ms),
                self._translate_where(partition_where),
            )
        else:
            snap = self.snapshot(version, as_of_ms)
        files = snap.files
        if partition_where and not files:
            return self.read(version, as_of_ms).limit(0)
        if skip_where:
            stats = snap.stats or {}
            blooms = snap.blooms or {}
            # footer stats/blooms are keyed by the files' PHYSICAL names
            skip_where = [
                (self._physical_name(c), op, v) for c, op, v in skip_where
            ]
            files = [
                f
                for f in files
                if all(
                    _file_may_match(stats.get(f), c, op, v, blooms.get(f))
                    for (c, op, v) in skip_where
                )
            ]
            if not files:
                return self.read(version, as_of_ms).limit(0)  # empty, right schema
        if not files:
            raise ValueError(f"version {snap.version} is empty")
        return self._scan(files, snap.dvs, snap.schemas)

    def _scan(
        self, files: list[str], dvs: dict | None, schemas: dict | None
    ) -> DataFrame:
        """Plan a scan over ``files`` with DELETION VECTORS applied: a
        codegen predicate over the scan's hidden ``_metadata``
        (file_path + row_index) — no join, so ``_metadata`` stays
        addressable downstream (DELETE/MERGE locate touched files
        through it) and whole-stage codegen keeps the scan fused. Every
        internal file-scoped read MUST route here: a raw
        ``spark.read.parquet`` of a DV-carrying file would resurrect
        its soft-deleted rows.

        ``dvs`` and ``schemas`` are the maps of the snapshot the files
        come from (:class:`Snapshot`); the scan's schema is folded from
        ``schemas`` on the driver, so planning launches no Spark job
        (:meth:`_read_files`)."""
        live = set(files)
        df = self._read_files(files, schemas)
        dvs_abs = {
            os.path.join(self.path, f): r
            for f, r in (dvs or {}).items()
            if f in live and r
        }
        if dvs_abs:
            # extract the two _metadata fields ONCE: every direct
            # reference to a metadata subfield re-materializes the
            # whole struct per row (measured 200x on a 50k-run DV);
            # projection + filter keep the scan's hidden _metadata
            # addressable downstream, so COW file location still works
            cols = df.columns
            df = (
                df.withColumn("__lh_fp", F.col("_metadata.file_path"))
                .withColumn("__lh_ri", F.col("_metadata.row_index"))
                .filter(_dv_not_deleted_expr(dvs_abs, "__lh_fp", "__lh_ri"))
                .select(*cols)
            )
        # files store PHYSICAL names; every consumer speaks LOGICAL
        return self._to_logical(df)

    def history(self) -> list[Snapshot]:
        return [self._load(v) for v in self._versions()]

    def describe_detail(self) -> dict:
        """One-call ops summary of the table's current state (Delta's
        ``DESCRIBE DETAIL``): version, file count and on-disk bytes,
        partition spec, constraints, column map, dropped columns, CDF
        mode, and the deletion-vector burden (files carrying vectors +
        total soft-deleted rows — the inputs to a ``compact(
        dv_fraction=...)`` decision). Metadata + one ``stat`` per live
        file; no Spark job, no data read."""
        snap = self.snapshot()
        size = 0
        for f in snap.files:
            try:
                size += os.path.getsize(os.path.join(self.path, f))
            except OSError:
                pass  # a concurrently-vacuumed clone reference
        dvs = snap.dvs or {}
        return {
            "path": self.path,
            "version": snap.version,
            "operation": snap.operation,
            "timestamp_ms": snap.timestamp_ms,
            "num_files": len(snap.files),
            "size_bytes": size,
            "num_rows": self.row_count(),
            "partition_by": list(self.partition_by),
            "check_constraints": dict(self.check_constraints),
            "column_map": dict(self.column_map),
            "dropped_cols": list(self.dropped_cols),
            "cdf": bool(self.cdf),
            "dv_files": len(dvs),
            "dv_rows": sum(_ranges_count(r) for r in dvs.values()),
            # named refs: the retention holds a vacuum will honor
            "tags": self.tags(),
        }

    def table_schema(self, version: int | None = None):
        """The table's (merged) Spark schema at a version — manifest-only
        work, no data scan and no Spark job. After an evolved append, the
        merged schema includes the new columns; a time-travel read of an
        older version sees the pre-evolution schema.

        Defined as the merge of the LIVE files' schemas, which each
        commit records per written batch (Delta's ``metaData`` schema,
        kept per batch): exact under every operation incl. rollback,
        which can REVERT an evolution, with no special case. When every
        live file has a recorded schema, the fold (:func:`_recorded_schema`)
        is mapped to the logical view on the driver, with no DataFrame
        planned; otherwise this is ``read(version).schema``, whose scan
        falls back to Spark's footer merge."""
        from pyspark.sql.types import StructField, StructType

        snap = self.snapshot(version)
        schema = _recorded_schema(
            snap.files,
            [os.path.join(self.path, f) for f in snap.files],
            snap.schemas,
        )
        if not snap.files or schema is None:
            return self.read(version).schema
        phys = {f.name: f for f in schema.fields}
        return StructType(
            [
                StructField(
                    l, phys[p].dataType, phys[p].nullable, phys[p].metadata
                )
                for p, l in self._logical_names(schema.fieldNames())
            ]
        )

    def _validate_write_schema(self, df: DataFrame, schema_evolution: bool) -> None:
        """Delta-style write-side enforcement: shared columns must keep
        their exact type (a type flip makes old and new files
        unreadable together); NEW columns require the explicit
        ``schema_evolution=True`` opt-in (old rows surface NULLs via the
        read path's schema merge); a write MISSING table columns is
        always fine (its rows read as NULLs there — the Delta
        missing-column contract). Nested nullability is not compared: a
        scan reports every element, map value and struct field nullable,
        so a frame the table was created from must append back."""
        current = {f.name: f.dataType for f in self.table_schema().fields}
        flipped = [
            (f.name, str(current[f.name]), str(f.dataType))
            for f in df.schema.fields
            if f.name in current
            and _nullable(f.dataType.jsonValue())
            != _nullable(current[f.name].jsonValue())
        ]
        if flipped:
            raise SchemaMismatchError(
                f"column type change(s) not allowed: {flipped}"
            )
        new_cols = [f.name for f in df.schema.fields if f.name not in current]
        if new_cols and not schema_evolution:
            raise SchemaMismatchError(
                f"write adds new column(s) {new_cols}; pass "
                "schema_evolution=True to evolve the table schema"
            )
        # a renamed column's PHYSICAL name — and a DROPPED column's —
        # stays reserved in the files: a new column reusing it would
        # collide (or resurrect the dropped data) on the read path's
        # physical->logical translation. Columns with an explicit map
        # entry are exempt — they land under their OWN assigned
        # identity, which readd_column minted collision-free.
        reserved = (
            set(self.column_map.values()) - set(self.column_map)
        ) | set(self.dropped_cols)
        clash = [
            c for c in new_cols
            if c not in self.column_map and c in reserved
        ]
        if clash:
            raise SchemaMismatchError(
                f"column name(s) {clash} are reserved physical names of "
                f"renamed or dropped column(s) "
                f"(column_map={self.column_map}, "
                f"dropped={self.dropped_cols}) — readd_column() mints a "
                "fresh identity for a reserved name"
            )

    # ------------------------------------------------------------ writes

    def create(self, df: DataFrame, txn: dict | None = None) -> Snapshot:
        if self._versions():
            raise FileExistsError(f"table already exists at {self.path}")
        return self._commit(
            "create", 0, self._write_batch(df), replace_all=True, txn=txn
        )

    def append(
        self,
        df: DataFrame,
        txn: dict | None = None,
        schema_evolution: bool = False,
    ) -> Snapshot:
        prev = self.snapshot()
        self._validate_write_schema(df, schema_evolution)
        # pure addition commutes: a racing append rebases onto the new HEAD
        return self._commit("append", prev.version, self._write_batch(df), txn=txn)

    def last_committed_batch(self, app_id: str) -> int | None:
        """Highest ``batch_id`` this ``app_id`` has committed (None if
        never) — the streaming sink's replay detector. History scan is
        O(#versions) driver-side JSON; vacuum bounds it, and the
        ``txn_seen`` high-water map vacuum folds into the oldest
        retained manifest keeps stamps from EXPIRED versions visible
        (without it, vacuum would silently disarm replay protection)."""
        best = None
        for v in self._versions():
            # txn is commit-local: read the raw manifest, never fold
            raw = self._raw(v)
            t = raw.get("txn")
            if t and t.get("app_id") == app_id:
                best = t["batch_id"] if best is None else max(best, t["batch_id"])
            seen = (raw.get("txn_seen") or {}).get(app_id)
            if seen is not None:
                best = seen if best is None else max(best, seen)
        return best

    def overwrite(self, df: DataFrame, txn: dict | None = None) -> Snapshot:
        prev = self.snapshot()
        return self._commit(
            "overwrite", prev.version, self._write_batch(df),
            replace_all=True, txn=txn,
        )

    # ---------------------------------------------------- row-level DML
    # Every verb is LOCATE (the rows or files a matching step hits) +
    # RETRACT (copy-on-write rewrite of the touched files, or deletion
    # vectors over the located positions) + one commit. A matching step
    # is ``DataFrame -> DataFrame``: a predicate filter, a broadcast
    # key semi-join (:func:`_key_match`) or merge_when's clause join.

    @staticmethod
    def _locate(current: DataFrame, match) -> DataFrame:
        """LOCATE: ``(fp, ri)`` positions of the rows ``match`` keeps.
        The two ``_metadata`` fields are extracted BEFORE the match so a
        join keeps them addressable."""
        return match(
            current.withColumn("_lh_fp", F.col("_metadata.file_path"))
            .withColumn("_lh_ri", F.col("_metadata.row_index"))
        ).select(F.col("_lh_fp").alias("fp"), F.col("_lh_ri").alias("ri"))

    def _touched_files(self, current: DataFrame, match) -> frozenset[str]:
        """LOCATE at file granularity: relative paths of the data files
        holding rows ``match`` keeps — a file-count-bounded collect
        (metadata scale, not data scale); no row index is needed."""
        located = match(current.withColumn("_lh_fp", F.col("_metadata.file_path")))
        return frozenset(
            self._relativize(r.fp)
            for r in located.select(F.col("_lh_fp").alias("fp")).distinct().collect()
        )

    def _relativize(self, abs_path: str) -> str:
        # _metadata.file_path is a file: URI or plain path; strip both.
        # Files OUTSIDE this table's root (a shallow clone's references
        # into its source) keep their absolute form — that IS their
        # manifest key, so COW remove-set matching still lines up.
        p = abs_path.removeprefix("file://").removeprefix("file:")
        rel = os.path.relpath(p, self.path)
        return p if rel.startswith("..") else rel

    def _rewrite(
        self,
        op: str,
        prev: Snapshot,
        touched: frozenset[str],
        transform,
        txn: dict | None = None,
        merge_keys: list[str] | None = None,
        untouched: DataFrame | None = None,
        skip_empty: bool = False,
    ) -> Snapshot:
        """RETRACT by copy-on-write: replace the ``touched`` files with
        ``transform(scan)`` of their DV-filtered scan; every other file
        carries over untouched. Rewritten files PURGE their deletion
        vectors (survivors come from the DV-filtered scan, and the
        removed file's DV dies with it). With nothing touched
        ``untouched`` is written instead, and with nothing to write the
        commit is empty. ``skip_empty`` adds nothing for a rewrite that
        holds no rows (:meth:`_write_nonempty`)."""
        out = (
            transform(self._scan(sorted(touched), prev.dvs, prev.schemas))
            if touched
            else untouched
        )
        if out is None:
            return self._commit(op, prev.version, [], txn=txn)
        add = self._write_nonempty(out) if skip_empty else self._write_batch(out)
        return self._commit(
            op, prev.version, add, remove=touched, txn=txn, merge_keys=merge_keys
        )

    def _dv_retract(self, prev: Snapshot, positions: DataFrame, budget: int):
        """RETRACT by deletion vectors: collect at most ``budget`` located
        ``(fp, ri)`` positions (one ``limit(budget + 1)`` collect) and
        return ``(dv_add, fully_gone)``. Honesty bounds, enforced not
        documented:

        - a file whose live rows ALL matched is in ``fully_gone`` —
          removed from the manifest outright (cheaper than a DV
          covering the file);
        - more than ``budget`` positions returns None and the caller
          falls back to copy-on-write — DV runs live in the manifest
          JSON, so a table-sized retraction through DVs would turn the
          metadata into the table; COW is the right tool there."""
        rows = positions.limit(budget + 1).collect()
        if len(rows) > budget:
            return None
        by_file: dict[str, list[int]] = {}
        for r in rows:
            by_file.setdefault(self._relativize(r.fp), []).append(r.ri)
        dv_add: dict = {}
        fully_gone: set[str] = set()
        stats, dvs = prev.stats or {}, prev.dvs or {}
        for f, idx in by_file.items():
            nrows = stats.get(f, {}).get("_nrows")
            if nrows and len(idx) >= nrows[0] - _ranges_count(dvs.get(f, [])):
                fully_gone.add(f)  # last live row retracted: drop the file
            else:
                dv_add[f] = _ranges_from_indices(idx)
        return dv_add, frozenset(fully_gone)

    def _delete_dv(self, match, budget: int, fallback, txn=None) -> Snapshot:
        """The DV deletes' shared body: locate over the DV-filtered head
        (already-deleted rows can't re-match), :meth:`_dv_retract`, one
        metadata-only ``delete_mor`` commit that rebases under
        :func:`_dv_delete_commutes`; ``fallback()`` past the budget."""
        prev = self.snapshot()
        retract = self._dv_retract(prev, self._locate(self.read(), match), budget)
        if retract is None:
            return fallback()
        dv_add, gone = retract
        return self._commit(
            "delete_mor",
            prev.version,
            [],
            remove=gone,
            dv_add=dv_add,
            txn=txn,
            commute_ok=_dv_delete_commutes(frozenset(dv_add) | gone),
        )

    def delete(self, predicate) -> Snapshot:
        """Row-level DELETE: rewrite only files that contain matching
        rows; every other file carries over untouched (copy-on-write at
        file granularity — Delta's exact DELETE strategy, through
        :meth:`_rewrite`)."""
        prev = self.snapshot()
        touched = self._touched_files(self.read(), lambda d: d.filter(predicate))
        return self._rewrite(
            "delete", prev, touched, lambda t: t.filter(~predicate), skip_empty=True
        )

    def delete_mor(
        self, predicate, max_deleted_rows: int = 100_000
    ) -> Snapshot:
        """Row-level DELETE, MERGE-ON-READ: instead of rewriting the
        files that hold matching rows (:meth:`delete`'s copy-on-write),
        record their row indices as DELETION VECTORS in the manifest —
        a pure METADATA commit (Delta DVs / Iceberg v2 position
        deletes). The 100 TB fit: a GDPR delete of one user's thousand
        rows scattered across thousand 128 MB files costs one JSON
        write instead of a 128 GB rewrite. Readers subtract DVs via a
        codegen ``_metadata`` predicate; COW rewrites and
        :meth:`compact` PURGE them (the accumulated-DV maintenance
        story is exactly Delta's: OPTIMIZE re-materializes).

        Retracts through :meth:`_dv_retract` with its honesty bounds
        (fully-matched files dropped outright; more than
        ``max_deleted_rows`` matches falls back to :meth:`delete`). A
        concurrent DV delete on disjoint files rebases instead of
        aborting (:func:`_dv_delete_commutes`)."""
        return self._delete_dv(
            lambda d: d.filter(predicate),
            max_deleted_rows,
            lambda: self.delete(predicate),
        )

    def delete_keys(
        self,
        keys: DataFrame,
        key_cols: list[str],
        txn: dict | None = None,
    ) -> Snapshot:
        """Row-level DELETE by KEY SET: rewrite only files holding
        matching keys, dropping their matched rows (the bulk twin of
        :meth:`delete` — a key set arrives as a DataFrame, never a
        collected-in predicate, so a CDC apply that retracts 10^6 keys
        stays distributed). Same COW file granularity as
        :meth:`merge`; deleting keys that do not exist is a no-op."""
        prev = self.snapshot()
        kdf = keys.select(*key_cols)
        touched = self._touched_files(self.read(), _key_match(kdf, key_cols))
        return self._rewrite(
            "delete",
            prev,
            touched,
            lambda t: t.join(F.broadcast(kdf), key_cols, "left_anti"),
            txn=txn,
            skip_empty=True,
        )

    def delete_keys_mor(
        self,
        keys: DataFrame,
        key_cols: list[str],
        txn: dict | None = None,
        max_deleted_rows: int = 100_000,
    ) -> Snapshot:
        """Row-level DELETE by KEY SET, MERGE-ON-READ: the DV twin of
        :meth:`delete_keys` the same way :meth:`delete_mor` twins
        :meth:`delete` — matched rows' positions become deletion
        vectors in one JSON commit instead of COW-rewriting every file
        that holds a matched key. The natural retraction shape for a
        dedup-maintenance or GDPR pass over a 100 TB corpus: the loser
        keys arrive as a DataFrame (never a collected-in predicate) and
        the matched positions are bounded by the actual match count.
        Same retract step, bounds and commute rule as
        :meth:`delete_mor`, falling back to the COW
        :meth:`delete_keys` past ``max_deleted_rows``. Deleting absent
        keys is a no-op."""
        kdf = keys.select(*key_cols)
        return self._delete_dv(
            _key_match(kdf, key_cols),
            max_deleted_rows,
            lambda: self.delete_keys(keys, key_cols, txn=txn),
            txn=txn,
        )

    def merge(
        self,
        source: DataFrame,
        key_cols: list[str],
        txn: dict | None = None,
        schema_evolution: bool = False,
    ) -> Snapshot:
        """Row-level MERGE (upsert-by-key): matched target rows are
        replaced by their source row, unmatched survive, new keys
        insert. Only files holding matched keys are rewritten. A source
        with NEW columns needs ``schema_evolution=True`` (rewritten
        survivors carry NULLs there; untouched files surface NULLs via
        the read path's schema merge)."""
        prev = self.snapshot()
        self._validate_write_schema(source, schema_evolution)
        keys = source.select(*key_cols)
        touched = self._touched_files(self.read(), _key_match(keys, key_cols))
        return self._rewrite(
            "merge",
            prev,
            touched,
            lambda t: t.join(keys, key_cols, "left_anti").unionByName(
                source, allowMissingColumns=True
            ),
            txn=txn,
            merge_keys=[self._physical_name(c) for c in key_cols],
            untouched=source,
        )

    def merge_mor(
        self,
        source: DataFrame,
        key_cols: list[str],
        txn: dict | None = None,
        schema_evolution: bool = False,
        max_updated_rows: int = 100_000,
    ) -> Snapshot:
        """Row-level MERGE (upsert-by-key), MERGE-ON-READ: instead of
        COW-rewriting every file that holds a matched key
        (:meth:`merge`), soft-delete the matched target rows via
        DELETION VECTORS and append the source as new files — old image
        retracted and new image landed in ONE atomic commit (Delta's
        DV-backed MERGE). The 100 TB fit is the upsert twin of
        :meth:`delete_mor`: a CDC batch updating 10^4 keys scattered
        across 10^4 128 MB files costs one source-sized write plus one
        JSON commit, instead of a ~1 TB copy-on-write rewrite — exactly
        the shape of the reference's continuously-upserted enrichment
        feed (``04_sales_enrich_sp.sql:22``).

        Retracts through :meth:`_dv_retract` with its honesty bounds
        (fully-matched files dropped outright; more than
        ``max_updated_rows`` matches falls back to :meth:`merge`). It
        adds files, so unlike the DV deletes it aborts on any
        intervening commit.

        Change-feed semantics: the commit surfaces as delete(old image)
        rows (from the DV delta / removed files) plus insert(new image)
        rows (the added source files) — the retraction-pair form
        :meth:`changes` consumers (rollup, CDC) already fold. One
        documented divergence from COW merge: a NO-OP update (source
        row byte-identical to the target row) still emits its
        delete+insert pair here — the pair nets to zero for every
        additive consumer — whereas COW merge's ``exceptAll`` diff
        emits nothing."""
        prev = self.snapshot()
        self._validate_write_schema(source, schema_evolution)
        # DV-filtered read: dead rows can't re-match
        located = self._locate(
            self.read(), _key_match(source.select(*key_cols), key_cols)
        )
        retract = self._dv_retract(prev, located, max_updated_rows)
        if retract is None:
            return self.merge(
                source, key_cols, txn=txn, schema_evolution=schema_evolution
            )
        dv_add, gone = retract
        return self._commit(
            "merge_mor",
            prev.version,
            self._write_batch(source),
            remove=gone,
            dv_add=dv_add,
            txn=txn,
            merge_keys=[self._physical_name(c) for c in key_cols],
        )

    def merge_when(
        self,
        source: DataFrame,
        key_cols: list[str],
        matched_update: dict | str | None = None,
        matched_update_cond=None,
        matched_delete_cond=None,
        insert_unmatched: bool = True,
        insert_cond=None,
        txn: dict | None = None,
        schema_evolution: bool = False,
        strategy: str = "cow",
        max_updated_rows: int = 100_000,
    ) -> Snapshot:
        """Conditional MERGE — the full ``MERGE INTO`` clause set
        (Delta/SQL:2003), where :meth:`merge` is the fixed whole-row
        upsert:

        - ``WHEN MATCHED [AND matched_update_cond] THEN UPDATE SET``:
          ``matched_update`` maps column -> expression over the
          aliased pair (target ``t``, source ``s`` — e.g.
          ``{"qty": F.col("t.qty") + F.col("s.qty")}``), implicitly
          cast to the column's existing type (the UPDATE rule). The
          string ``"all"`` means replace with the source row.
        - ``WHEN MATCHED AND matched_delete_cond THEN DELETE``:
          evaluated AFTER the update clause's condition (a matched row
          updates if the update condition holds, else deletes if the
          delete condition holds, else carries unchanged — Delta's
          in-order clause rule, with the order fixed update-first).
        - ``WHEN NOT MATCHED [AND insert_cond] THEN INSERT``
          (``insert_unmatched``): source rows whose key is absent from
          the target land as new rows; off = an update/delete-only
          merge. ``insert_cond`` (over ``s.*``) is the tombstone
          guard: a CDC delete event for a key the target never had
          must insert NOTHING (``insert_cond=~F.col("s.deleted")``).

        Conditions are Columns over the same ``t``/``s`` aliases.
        Key-unique contract on both sides, as :meth:`merge`.

        The 100 TB shape is COW at :meth:`merge`'s file granularity:
        only files holding MATCHED keys rewrite; the per-row clause
        arbitration is one projection inside that rewrite (no second
        scan, no window); unmatched-insert detection anti-joins the
        (small) source against the touched files' keys only — matched
        target rows can live nowhere else. The aggregate-heavy
        conditional-upsert feeds this serves (the reference's enrich
        MERGE, ``04_sales_enrich_sp.sql:22``) stay one commit.

        ``strategy="mor"`` — the conditional twin of
        :meth:`merge_mor`: rows a clause AFFECTS (updated or deleted)
        are retracted through :meth:`_dv_retract`, updated images +
        unmatched inserts land as new files, carried rows never move —
        one JSON commit for a business-rule CDC batch scattered over a
        100 TB table. Same honesty bounds (fully-affected files removed
        outright; more than ``max_updated_rows`` affected rows falls
        back to COW); a merge touching no target file commits through
        the COW path."""
        if matched_update is None and matched_delete_cond is None and not insert_unmatched:
            raise ValueError("merge_when with no clauses does nothing")
        if strategy not in ("cow", "mor"):
            raise ValueError(f"unknown merge strategy {strategy!r}")
        prev = self.snapshot()
        self._validate_write_schema(source, schema_evolution)
        data_cols = [f.name for f in self.table_schema().fields]
        if matched_update == "all":
            matched_update = {
                c: F.col(f"s.{c}")
                for c in data_cols
                if c in source.columns
            }
        if matched_update:
            fields = {f.name: f.dataType for f in self.table_schema().fields}
            unknown = [c for c in matched_update if c not in fields]
            if unknown:
                raise SchemaMismatchError(
                    f"UPDATE clause sets unknown column(s) {unknown}; "
                    "the update side never adds columns"
                )
            from pyspark.sql import Column

            matched_update = {
                c: (e if isinstance(e, Column) else F.lit(e)).cast(fields[c])
                for c, e in matched_update.items()
            }
        keys = source.select(*key_cols)
        touched = self._touched_files(self.read(), _key_match(keys, key_cols))
        merge_keys = [self._physical_name(c) for c in key_cols]

        # clause expressions over the t/s aliases, shared by both
        # strategies. NULL conditions mean "clause not satisfied" (the
        # SQL MERGE rule), never "drop the row": coalesce to False.
        has_match = F.col(f"s.{key_cols[0]}").isNotNull()
        upd_cond = (
            F.lit(False)
            if matched_update is None
            else (
                F.lit(True)
                if matched_update_cond is None
                else F.coalesce(matched_update_cond, F.lit(False))
            )
        )
        del_cond = (
            F.lit(False)
            if matched_delete_cond is None
            else F.coalesce(matched_delete_cond, F.lit(False))
        )
        on = reduce(
            lambda a, b: a & b,
            [F.col(f"t.{c}").eqNullSafe(F.col(f"s.{c}")) for c in key_cols],
        )
        # update wins, else the target row carries (delete is each
        # strategy's filter)
        updated = [
            F.when(
                has_match & upd_cond,
                matched_update[c]
                if matched_update and c in matched_update
                else F.col(f"t.{c}"),
            )
            .otherwise(F.col(f"t.{c}"))
            .alias(c)
            for c in data_cols
        ]

        def clause_join(target):
            return target.alias("t").join(source.alias("s"), on, "left")

        def with_inserts(df, matched_keys):
            if not insert_unmatched:
                return df
            src = source.alias("s")
            if insert_cond is not None:
                # NULL = not satisfied, same as the matched clauses
                src = src.filter(F.coalesce(insert_cond, F.lit(False)))
            if matched_keys is not None:
                src = src.join(matched_keys, key_cols, "left_anti")
            return src if df is None else df.unionByName(
                src, allowMissingColumns=True
            )

        if strategy == "mor" and touched:
            t = self._scan(sorted(touched), prev.dvs, prev.schemas)
            affected = self._locate(
                t,
                lambda d: clause_join(d).filter(
                    has_match & (upd_cond | del_cond)
                ),
            )
            retract = self._dv_retract(prev, affected, max_updated_rows)
            if retract is not None:
                dv_add, gone = retract
                joined = clause_join(t)
                adds = with_inserts(
                    joined.filter(has_match & upd_cond).select(*updated),
                    joined.filter(has_match).select(
                        *[F.col(f"t.{c}").alias(c) for c in key_cols]
                    ),
                )
                return self._commit(
                    "merge_mor",
                    prev.version,
                    self._write_nonempty(adds),
                    remove=gone,
                    dv_add=dv_add,
                    txn=txn,
                    merge_keys=merge_keys,
                )
            # fall through to COW past the run budget

        def transform(t):
            # one projection arbitrates every clause per row: update
            # wins, else delete drops, else the target row carries
            survivors = clause_join(t).filter(
                ~has_match | upd_cond | ~del_cond
            ).select(*updated)
            matched_keys = _key_match(keys, key_cols)(
                self._scan(sorted(touched), prev.dvs, prev.schemas)
            ).select(*key_cols)
            return with_inserts(survivors, matched_keys)

        return self._rewrite(
            "merge",
            prev,
            touched,
            transform,
            txn=txn,
            merge_keys=merge_keys,
            untouched=with_inserts(None, None),
        )

    def update(
        self,
        predicate,
        set_exprs: dict,
        strategy: str = "cow",
        max_updated_rows: int = 100_000,
        txn: dict | None = None,
    ) -> Snapshot:
        """Row-level UPDATE (``UPDATE ... SET col = expr WHERE pred``).
        All SET expressions see the row's OLD values (one simultaneous
        projection — standard SQL UPDATE semantics, so swapping two
        columns works). Updating a partition SOURCE column is legal:
        the write path re-derives partition tuples from the new
        values, so updated rows migrate to their new partitions.

        ``strategy="cow"`` (default) rewrites only the files holding
        matching rows — matched rows transformed, their file-mates
        carried through the same write (Delta's UPDATE). ``"mor"``
        retracts the matched positions through :meth:`_dv_retract` and
        appends the transformed rows — one JSON commit for an update
        scattered across a 100 TB table, with the same honesty bounds
        as :meth:`delete_mor`/:meth:`merge_mor` (fully-updated files
        removed outright; more than ``max_updated_rows`` matches falls
        back to COW). Either way the change feed sees delete(old) +
        insert(new) pairs; a no-op update cancels under COW's
        ``exceptAll`` and nets to zero for additive consumers under
        MoR (the documented merge_mor divergence)."""
        if strategy not in ("cow", "mor"):
            raise ValueError(f"unknown update strategy {strategy!r}")
        fields = {f.name: f.dataType for f in self.table_schema().fields}
        missing = [c for c in set_exprs if c not in fields]
        if missing:
            raise SchemaMismatchError(
                f"UPDATE sets unknown column(s) {missing}; UPDATE never "
                "adds columns — use schema-evolving append/merge"
            )
        from pyspark.sql import Column

        # implicit cast to the column's EXISTING type (Delta's UPDATE
        # rule): a widening SET expression (int col + double literal)
        # must not silently rewrite files under a new schema. Plain
        # Python literals are accepted for convenience.
        set_exprs = {
            c: (e if isinstance(e, Column) else F.lit(e)).cast(fields[c])
            for c, e in set_exprs.items()
        }
        prev = self.snapshot()
        cur = self.read()  # DV-filtered: dead rows can't match

        def match(d):
            return d.filter(predicate)

        if strategy == "mor":
            retract = self._dv_retract(
                prev, self._locate(cur, match), max_updated_rows
            )
            if retract is not None:
                dv_add, gone = retract
                if not (dv_add or gone):
                    return self._commit("update", prev.version, [], txn=txn)
                return self._commit(
                    "update_mor",
                    prev.version,
                    self._write_batch(match(cur).withColumns(set_exprs)),
                    remove=gone,
                    dv_add=dv_add,
                    txn=txn,
                )
            # fall through to COW past the run budget

        return self._rewrite(
            "update",
            prev,
            self._touched_files(cur, match),
            lambda t: t.withColumns(
                {
                    c: F.when(predicate, e).otherwise(F.col(c))
                    for c, e in set_exprs.items()
                }
            ),
            txn=txn,
        )

    # ------------------------------------------------------- partitions

    def clone_to(
        self, dst_path: str, version: int | None = None
    ) -> "SnapshotTable":
        """ZERO-COPY shallow clone (Delta ``SHALLOW CLONE``): the new
        table's first manifest references THIS table's current data
        files by absolute path — no data moves, the clone costs one
        JSON write regardless of table size. The dev/test/experiment
        primitive at 100 TB: branch a fact table, mutate the branch
        (appends land under the clone's own root; COW delete/merge
        rewrite source-referenced files INTO the clone, because a
        reference outside the clone's root keeps its absolute form as
        its manifest key), the source never changes.

        Retention hazard, stated not hidden (Delta has the same one):
        the clone PINS source files by reference only — a ``vacuum`` on
        the SOURCE that expires the cloned-from version deletes files
        the clone still references. Cloning for longer than the
        source's retention window means compacting the clone (which
        rewrites everything under its own root) or raising source
        retention. The clone's own vacuum only walks the clone's data
        dir, so it can never delete source files.

        ``version`` pins the clone to an older committed version (the
        branch-at-version primitive); metadata (constraints / column
        map / dropped columns / spec / CDF) is taken from THAT
        version's manifest, not the handle's current cache — a clone
        of v3 must not inherit a rename committed at v7."""
        snap = self.snapshot(version)
        meta_raw = self._raw(snap.version)
        m_partition_by = list(meta_raw.get("partition_by") or [])
        m_constraints = dict(meta_raw.get("constraints") or {})
        m_column_map = dict(meta_raw.get("column_map") or {})
        m_dropped = list(meta_raw.get("dropped_cols") or [])
        m_cdf = bool(meta_raw.get("cdf"))
        dst = SnapshotTable(
            self.spark,
            dst_path,
            commit_protocol=self.commit_protocol,
            partition_by=m_partition_by or None,
        )
        if dst._versions():
            raise FileExistsError(f"table already exists at {dst_path}")
        ab = lambda f: f if os.path.isabs(f) else os.path.join(self.path, f)
        cloned = Snapshot(
            1,
            int(time.time() * 1000),
            "clone",
            sorted(ab(f) for f in snap.files),
            {ab(f): s for f, s in (snap.stats or {}).items()},
            None,
            {ab(f): b for f, b in (snap.blooms or {}).items()},
            {ab(f): p for f, p in (snap.parts or {}).items()},
            {ab(f): r for f, r in (snap.dvs or {}).items()},
            {ab(b): sch for b, sch in (snap.schemas or {}).items()},
        )
        os.makedirs(os.path.join(dst.path, _MANIFEST_DIR), exist_ok=True)
        body = {
            "version": 1,
            "timestamp_ms": cloned.timestamp_ms,
            "operation": "clone",
            **dst._full_manifest_body(cloned),
            **({"partition_by": m_partition_by} if m_partition_by else {}),
            **({"constraints": m_constraints} if m_constraints else {}),
            **({"column_map": m_column_map} if m_column_map else {}),
            **({"dropped_cols": m_dropped} if m_dropped else {}),
            **({"cdf": True} if m_cdf else {}),
        }
        if not dst.commit_protocol.publish(
            dst._manifest_path(1), json.dumps(body)
        ):
            raise ConcurrentWriteError(f"clone race at {dst_path}")
        dst.check_constraints = m_constraints
        dst.column_map = m_column_map
        dst.dropped_cols = m_dropped
        dst.cdf = m_cdf
        return dst

    def evolve_partition_spec(self, new_spec: list[str]) -> Snapshot:
        """Change the table's partition spec WITHOUT rewriting data —
        Iceberg's partition-spec evolution: a metadata-only commit
        records the new spec; files written BEFORE it keep the tuples
        of the spec they were written under (recorded per file in the
        manifests), files written after derive the new fields. The
        realistic migrations this enables at 100 TB: an unpartitioned
        table that outgrew a full-scan read, or hour(ts) -> day(ts)
        re-granularity — in both cases rewriting history is exactly the
        cost evolution avoids.

        Read-path semantics across the boundary are CONSERVATIVE by
        construction: a pruning conjunct on a field an old file never
        recorded keeps that file (``_partition_match`` skips unknown
        columns), so pre-evolution data is scanned, never lost. EXACT
        surfaces (:meth:`drop_partitions`, :meth:`overwrite_partitions`,
        :meth:`row_count` with a predicate) refuse to act while any
        live file predates the fields they name — :meth:`compact`
        rewrites everything under the current spec and is the
        migration path to re-arm them."""
        if not new_spec:
            raise ValueError(
                "cannot evolve to an empty spec (devolution to "
                "unpartitioned would silently strip exact partition ops)"
            )
        fields = _parse_partition_spec(list(new_spec))
        have = {f.name for f in self.table_schema().fields}
        missing = [f.source for f in fields if f.source not in have]
        if missing:
            raise SchemaMismatchError(
                f"partition spec names missing source column(s) {missing}"
            )
        renamed = [f.source for f in fields if f.source in self.column_map]
        if renamed:
            raise ValueError(
                f"cannot partition by renamed column(s) {renamed}: data "
                "files store the physical name, so the write-path "
                "derivation would not resolve; partition by the "
                "physical name or rewrite the table"
            )
        base_v = self._meta_base()
        old_spec = self.partition_by
        self.partition_by = list(new_spec)
        self._pfields = fields
        try:
            return self._commit("evolve_partition_spec", base_v, [])
        except BaseException:
            self.partition_by = old_spec
            self._pfields = _parse_partition_spec(old_spec)
            raise

    def _require_fields_on_files(
        self, snap: Snapshot, cols: list[str], op_name: str
    ) -> None:
        """Exactness guard for partition surfaces that REMOVE or COUNT:
        every live file must record every named field. A file written
        under a pre-evolution spec has no tuple for the field, which
        the conservative comparator KEEPS — correct for a read, but for
        a drop it means a silent under-drop and for a count a silent
        overcount. Refuse loudly; compaction migrates old files to the
        current spec."""
        parts = snap.parts or {}
        stale = [
            f
            for f in snap.files
            if any(c not in parts.get(f, {}) for c in cols)
        ]
        if stale:
            raise ValueError(
                f"{op_name} on field(s) {cols} is exact, but "
                f"{len(stale)} live file(s) predate the current "
                "partition spec and record no value for them (e.g. "
                f"{stale[0]!r}); compact() to rewrite them under the "
                "current spec first"
            )

    def row_count(
        self,
        version: int | None = None,
        partition_where: list[tuple] | None = None,
    ) -> int | None:
        """``COUNT(*)`` from manifest stats alone — zero data scanned
        (every commit records each file's footer row count under the
        reserved ``_nrows`` stat, Delta's ``numRecords``). With
        ``partition_where``, counts only matching partitions, and on a
        sharded checkpoint resolves only matching shards. Returns None
        if any live file predates row-count stats (tables written
        before this feature) — the caller falls back to a scan rather
        than getting a silently wrong number.

        EXACT surface: conjuncts must name partition FIELDS. A transform
        field's source column is refused — its rewrite is conservative
        (a superset of files), which for a COUNT means silently
        overcounting instead of pruning."""
        if partition_where:
            srcs = {
                f.source: f.name
                for f in self._pfields
                if f.transform != "identity"
            }
            fields = set(self.partition_field_names)
            bad = [
                c for c, _op, _v in partition_where
                if c in srcs and c not in fields
            ]
            if bad:
                raise ValueError(
                    f"row_count is exact: predicate on source column(s) "
                    f"{bad} would overcount — use the derived field(s) "
                    f"{[srcs[c] for c in bad]}"
                )
        snap = (
            self._load(self._resolve_v(version, None), partition_where)
            if partition_where
            else self.snapshot(version)
        )
        if partition_where:
            self._require_fields_on_files(
                snap, [c for c, _op, _v in partition_where], "row_count"
            )
        total = 0
        for f in snap.files:
            nr = (snap.stats or {}).get(f, {}).get("_nrows")
            if nr is None:
                return None
            # deletion vectors subtract exactly (runs carry their size)
            total += nr[0] - _ranges_count((snap.dvs or {}).get(f, []))
        return total

    def partitions(self, version: int | None = None) -> list[dict]:
        """Distinct partition tuples with per-partition file AND row
        counts — pure manifest metadata (no listing, no scan): the ops
        surface a 100 TB operator uses to spot fragmentation or skew
        before paying for a read. ``num_rows`` is None when any of the
        partition's files predates row-count stats. Sorted by tuple
        for stable output."""
        if not self.partition_by:
            raise ValueError("table is not partitioned")
        names = self.partition_field_names
        snap = self.snapshot(version)
        counts: dict = {}
        for f in snap.files:
            key = tuple((snap.parts or {}).get(f, {}).get(c) for c in names)
            nf, nr = counts.get(key, (0, 0))
            fr = (snap.stats or {}).get(f, {}).get("_nrows")
            dv = _ranges_count((snap.dvs or {}).get(f, []))
            counts[key] = (
                nf + 1,
                None if nr is None or fr is None else nr + fr[0] - dv,
            )
        return [
            {**dict(zip(names, k)), "num_files": nf, "num_rows": nr}
            for k, (nf, nr) in sorted(
                counts.items(), key=lambda kv: tuple(str(x) for x in kv[0])
            )
        ]

    def overwrite_partitions(
        self, df: DataFrame, txn: dict | None = None
    ) -> Snapshot:
        """Dynamic partition overwrite (Spark's
        ``partitionOverwriteMode=dynamic`` / Delta's ``replaceWhere``
        auto-derived): replace EXACTLY the partitions present in ``df``,
        carry every other partition's files over untouched. The backfill
        primitive — re-running one day of a year-partitioned pipeline
        rewrites that day, never the year. Cost: one write of ``df``
        plus one distinct-tuples collect bounded by the number of
        TOUCHED partitions (never table-wide)."""
        if not self.partition_by:
            raise ValueError("table is not partitioned")
        prev = self.snapshot()
        self._validate_write_schema(df, schema_evolution=False)
        names = self.partition_field_names
        self._require_fields_on_files(prev, names, "overwrite_partitions")
        dtypes = {fld.name: fld.dataType for fld in df.schema.fields}
        touched = {
            tuple(None if r[n] is None else str(r[n]) for n in names)
            for r in df.select(
                *[
                    _transform_expr(f, dtypes[f.source]).alias(f.name)
                    for f in self._pfields
                ]
            )
            .distinct()
            .collect()
        }
        remove = frozenset(
            f
            for f in prev.files
            if tuple((prev.parts or {}).get(f, {}).get(n) for n in names)
            in touched
        )

        # Logical-conflict granularity: commits that provably touched
        # ONLY other partitions commute with this overwrite — a
        # concurrent backfill of 2024-01-02 must not abort the backfill
        # of 2024-01-03 (Delta's partition-disjoint replaceWhere rule).
        # Every intervening added file must carry a recorded partition
        # tuple OUTSIDE the touched set, and no intervening commit may
        # have removed or DV'd a file this overwrite is replacing.
        def _parts_commute(intervening) -> bool:
            for _v, op, added, removed, dvd in intervening:
                if op in ("overwrite", "rollback", "create"):
                    return False  # replace-all: table-sized by definition
                if (set(removed) | set(dvd)) & remove:
                    return False
                for f in added:
                    vals = _parts_from_relpath(f)
                    if any(n not in vals for n in names):
                        return False  # pre-evolution / unknown layout
                    if tuple(vals.get(n) for n in names) in touched:
                        return False
            return True

        return self._commit(
            "overwrite_partitions",
            prev.version,
            self._write_batch(df),
            remove=remove,
            txn=txn,
            commute_ok=_parts_commute,
        )

    def drop_partitions(self, partition_where: list[tuple]) -> Snapshot:
        """Partition-level DELETE as a PURE METADATA commit: files whose
        recorded partition tuple matches are removed from the manifest —
        no data is read or rewritten (``ALTER TABLE DROP PARTITION`` /
        retention sweeps: expiring 30-day-old events from a 100 TB table
        costs one JSON write). Contrast :meth:`delete`, which scans and
        rewrites because a row predicate can straddle files. Raises on a
        predicate naming non-partition columns — silently treating it as
        row-level would drop rows the caller didn't select.

        Persisted-CDF cost note: on a ``cdf=True`` table this commit is
        no longer metadata-only — the dropped rows are read once and
        written as change sidecars (a feed cannot survive the files'
        vacuum otherwise; Delta pays the same for DELETE with CDF on).
        Retention sweeps that don't need to surface in the feed belong
        on tables with CDF off, or accept the one extra read."""
        if not self.partition_by:
            raise ValueError("table is not partitioned")
        names = set(self.partition_field_names)
        sources = {
            f.source: f.name for f in self._pfields if f.transform != "identity"
        }
        bad = [c for c, _op, _v in partition_where if c not in names]
        if bad:
            hint = "; ".join(
                f"use derived field {sources[c]!r} instead of source "
                f"column {c!r} (a source-column predicate is only "
                "file-granular-exact after a conservative rewrite, and a "
                "DROP must never be conservative)"
                for c in bad
                if c in sources
            )
            raise ValueError(
                "drop_partitions predicate names non-partition-field "
                f"column(s) {bad}" + (f" — {hint}" if hint else "")
            )
        prev = self.snapshot()
        self._require_fields_on_files(
            prev, [c for c, _op, _v in partition_where], "drop_partitions"
        )
        remove = frozenset(
            f
            for f in prev.files
            if _partition_match((prev.parts or {}).get(f, {}), partition_where)
        )
        if not remove:
            return prev
        return self._commit("drop_partitions", prev.version, [], remove=remove)

    def rollback(self, version: int) -> Snapshot:
        """Restore an old version AS A NEW COMMIT (history is never
        rewritten — the bad versions stay auditable). The target
        version's deletion vectors are restored with its files —
        without them the rollback would resurrect soft-deleted rows."""
        tgt = self.snapshot(version)
        return self._commit(
            "rollback",
            self.snapshot().version,
            list(tgt.files),
            replace_all=True,
            dv_add={f: r for f, r in (tgt.dvs or {}).items()},
        )

    def compact(
        self,
        target_files: int,
        preserve_order: bool = True,
        small_file_bytes: int | None = None,
        partition_where: list[tuple] | None = None,
        dv_fraction: float | None = None,
    ) -> Snapshot:
        """Small-file compaction. Pure metadata swap for readers — same
        rows, new layout.

        ``small_file_bytes=None`` rewrites the WHOLE table into
        ``target_files`` files — right for bounded tables (indexes,
        metrics) and tests. For a 100 TB corpus that's a full rewrite
        per maintenance cycle, which is NOT what OPTIMIZE does: pass a
        threshold and only files SMALLER than it are bin-packed
        (Delta's minFileSize behavior) — full-sized files carry over
        untouched, so the rewrite is proportional to the
        FRAGMENTATION, not the table, and the commit is an
        add/remove delta, not a replace-all. A no-op (fewer than two
        small files) commits nothing and returns the current snapshot.

        ``preserve_order=True`` (default) bin-packs via ``coalesce`` —
        no shuffle, and file-local ordering survives, so a prior
        ``cluster_zorder`` keeps its data-skipping power (Delta's
        OPTIMIZE does the same). ``False`` hash-repartitions for
        perfectly even output sizes at the cost of destroying any
        clustering.

        ``partition_where`` scopes the compaction (Delta's ``OPTIMIZE
        ... WHERE``): only matching partitions' files are candidates;
        everything else carries over by reference — at 100 TB the
        nightly maintenance pass compacts the partitions that just
        streamed in, never the table. Conservative translation applies
        (a source-column conjunct may scope in the boundary partition —
        harmless: compaction never changes rows). Forces the
        add/remove-delta commit path even without a size threshold.

        ``dv_fraction`` additionally selects files whose DELETION-
        VECTOR'd row fraction is at or above the threshold (Delta's
        heavily-deleted-file purge policy): merge-on-read deletes and
        updates accumulate vectors, and a file that is mostly dead
        rows pays full scan cost for few live ones — rewriting it
        re-materializes the survivors and drops the vectors. Composes
        with ``small_file_bytes`` as a union of candidates; a SINGLE
        dv-heavy file is worth rewriting alone (size-only packing
        still needs two)."""
        prev = self.snapshot()
        scope: frozenset | None = None
        if partition_where:
            if not self.partition_by:
                raise ValueError("partition_where on an unpartitioned table")
            scoped = self._load(
                prev.version, self._translate_where(partition_where)
            )
            if not scoped.files:
                return prev
            scope = frozenset(scoped.files)
        if small_file_bytes is None and scope is None and dv_fraction is None:
            packed_src = self.read()
            remove, replace_all = None, True
        else:
            candidates = sorted(scope) if scope is not None else prev.files
            prev_dvs = prev.dvs or {}

            def _dv_frac(f: str) -> float:
                runs = prev_dvs.get(f)
                if not runs:
                    return 0.0
                nr = (prev.stats or {}).get(f, {}).get("_nrows")
                # no row stats: treat a DV-carrying file as rewrite-worthy
                return _ranges_count(runs) / nr[0] if nr else 1.0

            if small_file_bytes is None and dv_fraction is None:
                small = list(candidates)  # scoped full pack
            else:
                small = [
                    f
                    for f in candidates
                    if (
                        small_file_bytes is not None
                        and os.path.getsize(os.path.join(self.path, f))
                        < small_file_bytes
                    )
                    or (
                        dv_fraction is not None
                        and _dv_frac(f) >= dv_fraction
                    )
                ]
            # a single dv-heavy file is worth rewriting alone (the
            # purge); size-only packing needs at least two
            min_pack = (
                1
                if dv_fraction is not None
                and any(_dv_frac(f) >= dv_fraction for f in small)
                else 2
            )
            if len(small) < min_pack:
                return prev  # nothing worth packing: no empty commit
            # DV-aware: packing re-materializes only LIVE rows, and the
            # removed files' deletion vectors die with them (the purge)
            packed_src = self._scan(small, prev.dvs, prev.schemas)
            remove, replace_all = frozenset(small), False
        packed = (
            packed_src.coalesce(target_files)
            if preserve_order
            else packed_src.repartition(target_files)
        )

        # Logical-conflict granularity for the DELTA path (Delta's
        # OPTIMIZE rule: compaction does not conflict with appends):
        # bin-packing a fixed set of small files commutes with any
        # intervening commit that neither removed nor DV'd one of them
        # — appends land untouched, disjoint rewrites land, a
        # concurrent compaction of OTHER partitions lands. Replace-all
        # ops still abort: a rollback could re-add the very files this
        # pack replaces, and rebasing would duplicate their rows. The
        # whole-table replace_all pack conflicts with everything by
        # construction (no commute hook — _commit aborts on head move).
        def _pack_commutes(intervening) -> bool:
            for _v, op, _added, removed_i, dvd in intervening:
                if op in ("overwrite", "rollback", "create"):
                    return False
                if (set(removed_i) | set(dvd)) & remove:
                    return False
            return True

        return self._commit(
            "compact",
            prev.version,
            self._write_batch(packed, spark_only=True),
            remove=remove,
            replace_all=replace_all,
            commute_ok=None if replace_all else _pack_commutes,
        )

    def cluster_zorder(
        self,
        cols: list[str],
        n_files: int,
        partition_where: list[tuple] | None = None,
    ) -> Snapshot:
        """Z-order clustering (Delta ``OPTIMIZE ZORDER BY``): rewrite the
        table sorted by the interleaved-bit key of ``cols``, so the
        manifest [min,max] stats prune files for predicates on ANY of
        the clustered columns — a 1-D sort only skips on its prefix.

        ``partition_where`` scopes the rewrite (Delta's ``OPTIMIZE ...
        WHERE``): only matching partitions' files are read, re-sorted
        and replaced; everything else carries over by reference. At
        100 TB z-ordering is a per-partition maintenance pass on the
        partitions that just landed — never a full-table rewrite.

        Normalization is min/max fixed-point (one cheap agg pass over
        the SCOPED rows), not a global rank window (which would funnel
        the table through one task at 100 TB). Monotonic per column, so
        range predicates stay range predicates in z-space; heavy
        per-column skew degrades toward 1-D behavior (document, don't
        hide: pre-bucket a skewed column first).
        """
        prev = self.snapshot()
        if partition_where:
            if not self.partition_by:
                raise ValueError("partition_where on an unpartitioned table")
            scoped = self._load(prev.version, self._translate_where(partition_where))
            if not scoped.files:
                return prev
            cur = self.read(partition_where=partition_where)
        else:
            cur = self.read()
        k = len(cols)
        bounds = cur.agg(
            *[F.min(c).alias(f"lo{j}") for j, c in enumerate(cols)],
            *[F.max(c).alias(f"hi{j}") for j, c in enumerate(cols)],
        ).collect()[0]
        norm = []
        for j, c in enumerate(cols):
            lo, hi = bounds[f"lo{j}"], bounds[f"hi{j}"]
            span = (hi - lo) or 1
            norm.append(
                f"cast(floor((cast(`{c}` as double) - {lo}) / {span} * 65535) "
                "as bigint)"
            )
        z = " + ".join(
            f"shiftleft(shiftright({norm[j]}, {i}) & 1, {i * k + j})"
            for i in range(16)
            for j in range(k)
        )
        clustered = (
            cur.withColumn("_z", F.expr(z))
            .repartitionByRange(n_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
        if partition_where:
            return self._commit(
                "zorder",
                prev.version,
                self._write_batch(clustered, spark_only=True),
                remove=frozenset(scoped.files),
            )
        return self._commit(
            "zorder",
            prev.version,
            self._write_batch(clustered, spark_only=True),
            replace_all=True,
        )

    # ------------------------------------------------------- change feed

    def file_changes(
        self, v_lo: int, v_hi: int
    ) -> list[tuple[int, str, list[str], list[str], dict]]:
        """Per-commit ``(version, operation, added, removed, dv_delta)``
        for versions ``(v_lo, v_hi]`` — pure manifest work, no data
        reads. ``dv_delta`` = ``{relpath: [[start, end), ...]}`` row
        runs NEWLY soft-deleted by that commit (merge-on-read deletes:
        no file add/remove, but rows changed — consumers that treated
        file lists as the whole story would silently skip them). EVERY
        manifest records its own commit delta (full/checkpoint
        manifests included — diffed at commit time for replace-all
        ops), so this never resolves a PRIOR version: vacuum may have
        expired it, and that must not strand the change feed of a
        retained commit (the persisted-CDF retention contract). A
        snapshot-diff fallback covers manifests written before the
        delta keys existed. Raises ``FileNotFoundError``/``LookupError``
        when the range's manifests expired under vacuum — the caller's
        signal that incremental consumption is unprovable."""
        out: list[tuple[int, str, list[str], list[str], dict]] = []
        prev_snap: Snapshot | None = None
        for v in range(v_lo + 1, v_hi + 1):
            raw = self._raw(v)
            op = raw.get("operation", "")
            if "add" in raw or "remove" in raw:
                added = sorted(raw.get("add", []))
                removed = sorted(raw.get("remove", []))
                # DVs recorded ON a re-added file (rollback restores
                # files WITH their vectors) are post-image state, not
                # newly-deleted rows — the add already carries them
                dv_delta = {
                    f: r
                    for f, r in raw.get("add_dvs", {}).items()
                    if f not in set(added)
                }
                prev_snap = None  # only needed ahead of a legacy diff
            elif "files" in raw or "shard_index" in raw:
                # legacy full manifest without delta keys: diff against
                # the prior version's resolved state
                cur_snap = self._load(v)
                if prev_snap is None:
                    prev_snap = (
                        self._load(v - 1)
                        if v > 1
                        else Snapshot(0, 0, "", [])
                    )
                cur = set(cur_snap.files)
                prev_files = set(prev_snap.files)
                added = sorted(cur - prev_files)
                removed = sorted(prev_files - cur)
                dv_delta = {}
                prev_dvs = prev_snap.dvs or {}
                for f, r in (cur_snap.dvs or {}).items():
                    if f in added:
                        continue  # re-added with DVs: see above
                    new = _ranges_subtract(r, prev_dvs.get(f, []))
                    if new:
                        dv_delta[f] = new
                prev_snap = cur_snap
            else:
                added = sorted(raw.get("add", []))
                removed = sorted(raw.get("remove", []))
                dv_delta = dict(raw.get("add_dvs", {}))
                prev_snap = None
            out.append((v, op, added, removed, dv_delta))
        return out

    def _read_files(
        self, relpaths: list[str], schemas: dict | None = None
    ) -> DataFrame:
        """Physical-name frame over ``relpaths`` (manifest keys), no
        deletion vectors applied. When ``schemas`` covers every file's
        batch, the reader is given the folded schema
        (:func:`_recorded_schema`) and plans without a Spark job.
        Otherwise — a file with no recorded schema, or a fold conflict —
        Spark merges the footers itself: one inference job, which also
        raises Spark's own error on a type conflict."""
        paths = [os.path.join(self.path, f) for f in relpaths]
        schema = _recorded_schema(relpaths, paths, schemas)
        if schema is None:
            return self.spark.read.option("mergeSchema", "true").parquet(*paths)
        return self.spark.read.schema(schema).parquet(*paths)

    def _persist_changes(
        self,
        base_version: int,
        add: list[str],
        remove: frozenset[str],
        dv_add: dict,
        add_schemas: dict,
    ) -> list[str] | None:
        """Materialize one commit's change rows as parquet sidecars
        under ``_changes/`` (persisted CDF — Delta's ``_change_data``):
        written before the manifest publishes, referenced by its
        ``change_files`` list, so :meth:`changes` can serve the commit
        AFTER its pre-image data files are vacuumed (the feed's
        retention becomes manifest retention, not file retention).
        Stored under PHYSICAL column names like any data file — later
        renames keep old sidecars readable through the column map.
        Cost: O(this commit's change set), paid once at write time —
        the read side then skips the pre/post ``exceptAll`` entirely."""
        base = self._load(base_version) if base_version else None
        delta = self._delta_rows(
            sorted(add),
            sorted(remove),
            dv_add,
            (base.dvs if base else None),
            {},  # freshly-added files never carry DVs
            {**((base.schemas or {}) if base else {}), **add_schemas},
        )
        if delta is None:
            return None
        cdir = os.path.join(_CHANGES_DIR, f"c-{uuid.uuid4().hex[:12]}")
        out = os.path.join(self.path, cdir)
        self._to_physical(delta).write.mode("error").parquet(out)
        return [
            os.path.join(cdir, f)
            for f in os.listdir(out)
            if f.endswith(".parquet")
        ]

    def _delta_rows(
        self,
        added: list[str],
        removed: list[str],
        dv_delta: dict,
        dvs_prev: dict | None,
        dvs_cur: dict | None,
        schemas: dict,
    ) -> DataFrame | None:
        """LOGICAL change rows (with ``_change_type``) of ONE commit —
        the multiset diff of its pre-image (removed files under the
        PRIOR version's deletion vectors) vs its post-image (added
        files under the commit's own), plus the rows its ``dv_delta``
        newly soft-deleted. Shared by :meth:`changes` (compute-on-read)
        and the persisted-CDF write path (:meth:`_persist_changes`),
        so the two modes are the same arithmetic by construction.
        ``schemas`` covers the batches of both sides (batch dirs are
        written once, so the prior and current maps never disagree)."""
        post = self._scan(added, dvs_cur, schemas) if added else None
        pre = self._scan(removed, dvs_prev, schemas) if removed else None
        if pre is None and post is not None:
            delta = post.withColumn("_change_type", F.lit("insert"))
        elif post is None and pre is not None:
            delta = pre.withColumn("_change_type", F.lit("delete"))
        elif pre is not None and post is not None:
            pre, post = _align_columns(pre, post)
            delta = (
                post.exceptAll(pre)
                .withColumn("_change_type", F.lit("insert"))
                .unionByName(
                    pre.exceptAll(post).withColumn(
                        "_change_type", F.lit("delete")
                    )
                )
            )
        else:
            delta = None
        if dv_delta:
            # merge-on-read deletes: emit exactly the newly-DV'd
            # rows (read scoped to those files, filtered to the new
            # runs — rows live at the prior version by construction;
            # metadata fields extracted once, same as _scan)
            raw_rows = self._read_files(sorted(dv_delta), schemas)
            cols = raw_rows.columns
            sel = ~_dv_not_deleted_expr(
                {
                    os.path.join(self.path, f): r
                    for f, r in dv_delta.items()
                },
                "__lh_fp",
                "__lh_ri",
            )
            dv_rows = self._to_logical(
                raw_rows.withColumn(
                    "__lh_fp", F.col("_metadata.file_path")
                )
                .withColumn("__lh_ri", F.col("_metadata.row_index"))
                .filter(sel)
                .select(*cols)
            ).withColumn("_change_type", F.lit("delete"))
            delta = (
                dv_rows
                if delta is None
                else delta.unionByName(dv_rows, allowMissingColumns=True)
            )
        return delta

    def _label_updates(
        self, delta: DataFrame, op: str, merge_keys_phys: list | None
    ) -> DataFrame:
        """Relabel one commit's ``insert``/``delete`` change rows into
        Delta CDF's four-way labels where the OPERATION proves the
        pairing (``changes(update_labels=True)``):

        - ``update``/``update_mor`` commits contain ONLY rewrites by
          construction (``UPDATE ... SET``), so every delete row is an
          ``update_preimage`` and every insert an ``update_postimage``
          — a pure relabel, no data work;
        - ``merge``/``merge_mor`` commits mix matched rewrites with
          genuine inserts; the manifest's recorded ``merge_keys`` split
          them: a key present on BOTH sides of the commit's delta is an
          update pair, an insert-only key is a true insert (and a
          delete-only key — impossible for our upsert merge, but the
          rule is net-safe — stays a delete). Cost: two key-projections
          + one broadcast join, all scoped to THIS commit's delta.

        Commits from before ``merge_keys`` recording (or any other
        operation) pass through unlabeled — insert/delete is never
        wrong, just coarser (Delta consumers already treat
        ``update_preimage`` as removal and ``update_postimage`` as
        addition). NULL key values never pair (SQL join semantics) and
        therefore keep their coarse labels."""
        ct = F.col("_change_type")
        if op in ("update", "update_mor"):
            return delta.withColumn(
                "_change_type",
                F.when(ct == "delete", F.lit("update_preimage")).otherwise(
                    F.lit("update_postimage")
                ),
            )
        if op in ("merge", "merge_mor") and merge_keys_phys:
            inv = {p: l for l, p in self.column_map.items()}
            keys = [inv.get(k, k) for k in merge_keys_phys]
            upd_keys = (
                delta.filter(ct == "delete")
                .select(*keys)
                .distinct()
                .join(
                    delta.filter(ct == "insert").select(*keys).distinct(),
                    keys,
                    "inner",
                )
                .withColumn("__lh_upd", F.lit(1))
            )
            return (
                delta.join(F.broadcast(upd_keys), keys, "left")
                .withColumn(
                    "_change_type",
                    F.when(
                        F.col("__lh_upd").isNotNull() & (ct == "delete"),
                        F.lit("update_preimage"),
                    )
                    .when(
                        F.col("__lh_upd").isNotNull() & (ct == "insert"),
                        F.lit("update_postimage"),
                    )
                    .otherwise(ct),
                )
                .drop("__lh_upd")
            )
        return delta

    def changes(
        self,
        v_lo: int,
        v_hi: int | None = None,
        update_labels: bool = False,
    ) -> DataFrame:
        """Row-level CHANGE DATA FEED for versions ``(v_lo, v_hi]`` —
        Delta CDF's compute-on-read mode, recovered entirely from the
        commit manifests: the change rows of a commit are the multiset
        difference between the files it removed (pre-image) and the
        files it added (post-image). Returns the table's columns plus
        ``_change_type`` (``'insert'`` | ``'delete'``) and
        ``_commit_version`` (Delta's CDF column names). Updates surface
        as delete+insert pairs — exactly the retraction form an
        additive incremental consumer (``operators/rollup.py``) folds;
        a MERGE that rewrote a row to an identical value emits nothing
        (a no-op update IS no change). ``update_labels=True`` upgrades
        the pairs to Delta's four-way labels where the operation proves
        the pairing (``update``/``update_mor`` commits relabel
        outright; ``merge``/``merge_mor`` split by their recorded
        ``merge_keys`` — see :meth:`_label_updates`); the default stays
        two-way so additive consumers keep their exact fold.

        Cost model, the reason this exists: a commit's change set reads
        O(files THAT COMMIT touched) — for append it is the added files
        verbatim (no diff), for delete/merge the touched files' pre and
        post images (one ``exceptAll`` shuffle over those files only),
        and for layout-only commits (compact / Z-order: same rows, new
        files) it is skipped without reading anything. Never O(table) —
        except replace-all commits (overwrite / rollback), whose change
        set is table-sized by definition; callers that cannot afford
        that (rollup refresh) detect those operations from
        :meth:`file_changes` and recompute instead.

        Retention boundary (same as Delta's): pre-image files must
        still exist on disk; a range whose removed files were vacuumed
        raises ``FileNotFoundError`` up front rather than planning a
        scan over ghosts."""
        if v_hi is None:
            v_hi = self.snapshot().version
        per_commit = self.file_changes(v_lo, v_hi)
        out: DataFrame | None = None
        for v, op, added, removed, dv_delta in per_commit:
            if op in ("compact", "zorder") or (
                not added and not removed and not dv_delta
            ):
                continue  # layout-only / metadata-only: no row changes
            cf = self._raw(v).get("change_files")
            if cf is not None and not cf:
                # redaction sentinel: every change row of this commit
                # was erased (right-to-be-forgotten) — zero rows, by
                # design, never a recompute from vacuumed pre-images
                continue
            if cf:
                # persisted CDF sidecars (table had cdf on at commit
                # time): serve the commit's change rows from them —
                # the pre-image data files may be vacuumed by now, and
                # even when they are not, reading the sidecar skips
                # the exceptAll recompute. Stored under PHYSICAL names
                # so later renames translate like any data file.
                missing = [
                    f
                    for f in cf
                    if not os.path.exists(os.path.join(self.path, f))
                ]
                if missing:
                    raise FileNotFoundError(
                        f"change feed at v{v} needs vacuumed change "
                        f"file(s), e.g. {missing[0]!r} (CDF retention "
                        "= manifest retention; raise retain_last)"
                    )
                delta = self._to_logical(self._read_files(cf))
            else:
                gone = [
                    f
                    for f in added + removed + sorted(dv_delta)
                    if not os.path.exists(os.path.join(self.path, f))
                ]
                if gone:
                    raise FileNotFoundError(
                        f"change feed at v{v} needs vacuumed data file(s), "
                        f"e.g. {gone[0]!r}"
                    )
                # pre-images apply the PRIOR version's deletion vectors
                # (already-dead rows are not deleted again); post-images
                # apply this version's (a rollback re-adds files WITH DVs);
                # DV'd files stay live, so version v covers their schemas
                pre = self._load(v - 1) if removed else None
                post = self._load(v) if added or dv_delta else None
                delta = self._delta_rows(
                    added,
                    removed,
                    dv_delta,
                    pre.dvs if pre else None,
                    post.dvs if added else None,
                    {
                        **((pre.schemas or {}) if pre else {}),
                        **((post.schemas or {}) if post else {}),
                    },
                )
            if delta is None:
                continue
            if update_labels:
                delta = self._label_updates(
                    delta, op, self._raw(v).get("merge_keys")
                )
            delta = delta.withColumn(
                "_commit_version", F.lit(v).cast("long")
            )
            out = (
                delta
                if out is None
                else out.unionByName(delta, allowMissingColumns=True)
            )
        if out is not None:
            return out
        # nothing changed in range: empty frame with the right schema
        for v in range(v_hi, v_lo - 1, -1):
            snap = self._load(v)
            if snap.files:
                return (
                    self._to_logical(
                        self._read_files(snap.files, snap.schemas).limit(0)
                    )
                    .withColumn("_change_type", F.lit("insert"))
                    .withColumn("_commit_version", F.lit(0).cast("long"))
                )
        raise ValueError(
            f"no data files in versions [{v_lo}, {v_hi}] to derive a schema"
        )

    # ------------------------------------------------------------- tags

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Name a committed version (Iceberg TAG): a durable retention
        REF that :meth:`vacuum` honors — tagged versions and their
        files survive any ``retain_last`` horizon until the tag is
        dropped. ``read(tag=...)`` resolves through it. Tags are
        published through the commit protocol (exclusive create), so a
        racing double-create has exactly one winner; a tag is immutable
        — drop and re-create to move it (the Iceberg semantic, which
        keeps "what did ``release-2026-08`` mean" answerable forever).

        Why this exists at 100 TB: time travel bounded by
        ``retain_last`` is an OPS dial, but audits/repro pins
        ("the snapshot model v7 trained on") need named, vacuum-proof
        anchors — Delta solves this with full CLONEs (table-sized
        metadata), Iceberg with refs (one small file). This is the ref
        design: O(1) bytes per tag, zero data copies."""
        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]{0,63}", name):
            raise ValueError(
                f"tag name {name!r} must match [A-Za-z0-9][A-Za-z0-9._-]*"
                " (<= 64 chars)"
            )
        versions = self._versions()
        if not versions:
            raise FileNotFoundError("no committed version to tag")
        v = versions[-1] if version is None else version
        if v not in versions:
            raise LookupError(f"version {v} not in {versions}")
        tdir = os.path.join(self.path, _MANIFEST_DIR, _TAGS_DIR)
        os.makedirs(tdir, exist_ok=True)
        body = json.dumps(
            {
                "name": name,
                "version": v,
                "timestamp_ms": int(time.time() * 1000),
            }
        )
        if not self.commit_protocol.publish(
            os.path.join(tdir, f"{name}.json"), body
        ):
            raise FileExistsError(
                f"tag {name!r} already exists (drop_tag to move it)"
            )
        return v

    def drop_tag(self, name: str) -> None:
        """Remove a tag; the version it pinned becomes subject to the
        normal ``retain_last`` horizon at the NEXT vacuum (nothing is
        deleted here — dropping a ref is metadata-only)."""
        p = os.path.join(self.path, _MANIFEST_DIR, _TAGS_DIR, f"{name}.json")
        try:
            os.unlink(p)
        except FileNotFoundError:
            raise KeyError(f"no tag {name!r}") from None

    def tags(self) -> dict[str, int]:
        """``{tag_name: version}`` for every live tag."""
        tdir = os.path.join(self.path, _MANIFEST_DIR, _TAGS_DIR)
        out: dict[str, int] = {}
        for f in sorted(os.listdir(tdir)) if os.path.isdir(tdir) else []:
            if not f.endswith(".json"):
                continue
            try:
                with open(os.path.join(tdir, f)) as fh:
                    t = json.load(fh)
                out[t["name"]] = int(t["version"])
            except (OSError, ValueError, KeyError):
                continue  # half-written loser of a publish race
        return out

    def _tag_version(self, name: str) -> int:
        v = self.tags().get(name)
        if v is None:
            raise KeyError(f"no tag {name!r}")
        return v

    def restore_tag(self, name: str) -> "Snapshot":
        """RESTORE the table to the named ref's snapshot — a normal
        :meth:`rollback` commit (content replayed forward as a new
        version; history and replay stamps untouched). The operator
        workflow tags exist for: ``create_tag("pre-migration")`` …
        ``restore_tag("pre-migration")``. Vacuum-proof by
        construction — the tag kept its target retained."""
        return self.rollback(self._tag_version(name))

    def restore(
        self,
        version: int | None = None,
        as_of_ms: int | None = None,
        tag: str | None = None,
    ) -> Snapshot:
        """``RESTORE TABLE t TO VERSION/TIMESTAMP AS OF`` as ONE
        table-local verb: resolve the target exactly like
        :meth:`read`'s time travel (explicit version, wall-clock
        timestamp, or named tag) and replay its content forward as a
        normal :meth:`rollback` commit — history never rewritten, the
        mis-step stays auditable, replay stamps untouched, and the
        target's deletion vectors restored with its files. An explicit
        target is REQUIRED (restore-to-latest is a no-op that hides a
        typo'd argument, so it refuses)."""
        picked = [
            n
            for n, v in (
                ("version", version),
                ("as_of_ms", as_of_ms),
                ("tag", tag),
            )
            if v is not None
        ]
        if len(picked) != 1:
            raise ValueError(
                "restore needs exactly ONE of version=, as_of_ms=, "
                f"tag= (got {picked or 'none'})"
            )
        if tag is not None:
            return self.restore_tag(tag)
        return self.rollback(self._resolve_v(version, as_of_ms))

    # ------------------------------------------------------------------
    # Writable branches (the tags twin — Iceberg/Nessie's movable refs)
    # ------------------------------------------------------------------

    def _branch_refs_dir(self) -> str:
        return os.path.join(self.path, _MANIFEST_DIR, _BRANCH_REFS_DIR)

    def _branch_root(self, name: str) -> str:
        return os.path.join(self.path, _BRANCH_DATA_DIR, name)

    def branches(self) -> dict[str, dict]:
        """``{name: {"fork_version": int, "timestamp_ms": int}}`` for
        every live branch ref."""
        bdir = self._branch_refs_dir()
        out: dict[str, dict] = {}
        for f in sorted(os.listdir(bdir)) if os.path.isdir(bdir) else []:
            if not f.endswith(".json"):
                continue
            try:
                with open(os.path.join(bdir, f)) as fh:
                    r = json.load(fh)
                out[r["name"]] = {
                    "fork_version": int(r["fork_version"]),
                    "timestamp_ms": int(r["timestamp_ms"]),
                }
            except (OSError, ValueError, KeyError):
                continue  # half-written loser of a publish race
        return out

    def _branch_ref(self, name: str) -> dict:
        ref = self.branches().get(name)
        if ref is None:
            raise KeyError(f"no branch {name!r}")
        return ref

    def create_branch(
        self,
        name: str,
        version: int | None = None,
        tag: str | None = None,
    ) -> "SnapshotTable":
        """Fork a WRITABLE branch off a committed version (Iceberg /
        Nessie branch refs — the movable twin of :meth:`create_tag`):
        a zero-copy shallow clone rooted at ``<table>/_branches/<name>``
        whose first manifest references the fork version's files, plus
        a ref sidecar that makes :meth:`vacuum` retain the fork version
        (and therefore its files) while the branch lives — the clone
        docstring's retention hazard, closed for branches.

        Experiment on the branch with the FULL mutation surface
        (append / delete / merge / compact — branch commits land under
        the branch root; main never sees them), then
        :meth:`merge_branch` to publish the net change back, or
        :meth:`drop_branch` to discard. The reference anchor: trying a
        new enrichment on CURATED.PRODUCT_SALES without touching the
        DAG's serving copy (``04_sales_enrich_sp.sql:61``).

        Cost at 100 TB: one JSON ref + one clone manifest — no data
        moves until the branch itself writes. ``tag=`` forks at the
        version a named tag pins (mutually exclusive with
        ``version=``) — "branch off the release snapshot"."""
        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]{0,63}", name):
            raise ValueError(
                f"branch name {name!r} must match [A-Za-z0-9][A-Za-z0-9._-]*"
                " (<= 64 chars)"
            )
        if tag is not None:
            if version is not None:
                raise ValueError("tag= is mutually exclusive with version=")
            version = self._tag_version(tag)
        versions = self._versions()
        if not versions:
            raise FileNotFoundError("no committed version to branch from")
        v = versions[-1] if version is None else version
        if v not in versions:
            raise LookupError(f"version {v} not in {versions}")
        # A reused name whose directory still holds a table (the
        # post-merge residue: merge_branch keeps the directory because
        # main references its files in place) must refuse BEFORE the
        # ref publishes — otherwise the ref would point at the stale
        # pre-merge table and a later merge would re-add its files.
        root = self._branch_root(name)
        mdir = os.path.join(root, _MANIFEST_DIR)
        if os.path.isdir(mdir) and any(
            f.startswith("v") and f.endswith(".json") for f in os.listdir(mdir)
        ):
            raise FileExistsError(
                f"branch directory {root!r} still holds a merged table "
                "(main references its files in place); compact() main, "
                f"vacuum, then prune_branch_dir({name!r}) to remove the "
                "stale directory and reuse the name"
            )
        os.makedirs(self._branch_refs_dir(), exist_ok=True)
        body = json.dumps(
            {
                "name": name,
                "fork_version": v,
                "timestamp_ms": int(time.time() * 1000),
            }
        )
        # ref FIRST: from this instant vacuum retains the fork version,
        # so the clone below can never reference already-doomed files;
        # a racing double-create has exactly one winner
        ref_path = os.path.join(self._branch_refs_dir(), f"{name}.json")
        if not self.commit_protocol.publish(ref_path, body):
            raise FileExistsError(
                f"branch {name!r} already exists (drop_branch to discard)"
            )
        try:
            return self.clone_to(root, version=v)
        except BaseException:
            # never leak a live ref to a branch whose clone failed —
            # branches() would serve a phantom (or stale) table
            with contextlib.suppress(OSError):
                os.unlink(ref_path)
            raise

    def branch(self, name: str) -> "SnapshotTable":
        """Open a handle on an existing branch's table."""
        self._branch_ref(name)  # raises KeyError if the ref is gone
        return SnapshotTable(
            self.spark,
            self._branch_root(name),
            commit_protocol=self.commit_protocol,
        )

    def drop_branch(self, name: str) -> None:
        """Discard a branch: remove its ref (releasing the fork
        version's vacuum hold) and delete the branch's directory tree.
        Refuses while any RETAINED main manifest references files under
        the branch root — after a ``merge_branch(..., drop_ref=False)``
        main still reads merged branch-local files in place, and
        deleting them would corrupt main (compact main to re-home the
        rows first)."""
        self._branch_ref(name)
        root = self._branch_root(name)
        prefix = root.rstrip("/") + "/"
        for v in self._versions():
            if any(f.startswith(prefix) for f in self._load(v).files):
                raise ValueError(
                    f"branch {name!r} has merged files still referenced "
                    f"by main v{v}; compact() main to re-home them, "
                    "vacuum, then drop the branch"
                )
        os.unlink(os.path.join(self._branch_refs_dir(), f"{name}.json"))
        shutil.rmtree(root, ignore_errors=True)

    def prune_branch_dir(self, name: str) -> None:
        """Remove a REF-LESS branch directory — the post-merge residue:
        ``merge_branch(drop_ref=True)`` releases the ref but keeps the
        directory because main references the merged files in place, so
        :meth:`drop_branch` (which requires a live ref) can never clean
        it up. This is the maintenance step :meth:`create_branch`'s
        stale-directory refusal prescribes before the name can be
        reused. Refuses while the ref still exists (that branch is
        live — :meth:`drop_branch` is the right tool) or while any
        RETAINED main manifest still references files under the branch
        root (``compact()`` main to re-home the rows, ``vacuum`` the
        old manifests away, then prune). Idempotent on a missing
        directory."""
        if name in self.branches():
            raise ValueError(
                f"branch {name!r} still has a live ref — use "
                "drop_branch(); prune_branch_dir only removes "
                "post-merge residue"
            )
        root = self._branch_root(name)
        if not os.path.isdir(root):
            return
        prefix = root.rstrip("/") + "/"
        for v in self._versions():
            if any(f.startswith(prefix) for f in self._load(v).files):
                raise ValueError(
                    f"branch {name!r} directory has merged files still "
                    f"referenced by main v{v}; compact() main to "
                    "re-home them, vacuum, then prune"
                )
        shutil.rmtree(root, ignore_errors=True)

    def merge_branch(self, name: str, drop_ref: bool = True) -> Snapshot:
        """Merge a branch's NET change back into main as ONE commit (a
        squash merge — Iceberg's fast-forward/cherry-pick publish).

        The net delta is the snapshot diff between the branch head and
        its fork manifest (v1, the clone): files the branch removed
        (COW rewrites, compaction), files it added (branch-local
        paths, committed into main by absolute reference exactly like
        a clone's), and deletion-vector runs it newly soft-deleted on
        fork files. Main having moved since the fork is NOT a
        conflict by itself: the commit rebases through ``_commit``'s
        ``commute_ok`` machinery, refusing only when an intervening
        main commit removed or soft-deleted a file the branch also
        touched (the same rows changed on both sides) or when table
        metadata diverged — :class:`BranchMergeConflict` either way,
        with the branch left intact for a manual rebase.

        ``drop_ref=True`` (default) releases the branch ref after the
        merge: the fork version's vacuum hold ends, but the branch
        DIRECTORY stays (main now references its files in place —
        the same locality story as a shallow clone; ``compact()``
        re-homes them, after which :meth:`drop_branch` succeeds).

        Txn stamps recorded by branch commits do NOT transfer: a
        stamped micro-batch replayed against MAIN after the merge is
        a different table's history (stated, not hidden — the same
        rule as :class:`PinnedCatalog` staged stamps).

        Cost at 100 TB: O(branch delta) metadata + the conflict check
        (O(intervening commits) manifest reads); zero data movement."""
        ref = self._branch_ref(name)
        fork_v = ref["fork_version"]
        br = self.branch(name)
        br_versions = br._versions()
        if 1 not in br_versions:
            raise BranchMergeConflict(
                f"branch {name!r} fork manifest (v1) expired under the "
                "branch's own vacuum; the net delta is unprovable"
            )
        fork_snap = br._load(1)
        head_snap = br._load(br_versions[-1])
        # metadata commits don't merge: branch-head metadata must equal
        # main's CURRENT metadata (covers divergence on either side)
        br_meta = (
            dict(br.check_constraints),
            dict(br.column_map),
            sorted(br.dropped_cols),
            list(br.partition_by),
            bool(br.cdf),
        )
        main_meta = (
            dict(self.check_constraints),
            dict(self.column_map),
            sorted(self.dropped_cols),
            list(self.partition_by),
            bool(self.cdf),
        )
        if br_meta != main_meta:
            raise BranchMergeConflict(
                f"branch {name!r} table metadata diverged from main "
                "(constraints / column map / dropped columns / spec / "
                "CDF); metadata changes do not merge"
            )
        fork_set, head_set = set(fork_snap.files), set(head_snap.files)
        # fork files are absolute (the clone made them so); translate
        # back to main's manifest keys
        removed = frozenset(
            self._relativize(f) for f in sorted(fork_set - head_set)
        )
        added = sorted(head_set - fork_set)  # branch-local, kept absolute
        ab = lambda f: f if os.path.isabs(f) else os.path.join(br.path, f)
        added_abs = [ab(f) for f in added]
        fork_dvs = fork_snap.dvs or {}
        head_dvs = head_snap.dvs or {}
        dv_add: dict = {}
        for f in sorted(fork_set & head_set):
            new = _ranges_subtract(head_dvs.get(f, []), fork_dvs.get(f, []))
            if new:
                dv_add[self._relativize(f)] = new
        # DVs on branch-ADDED files ride the add as post-image state
        # (the rollback rule): their dead rows were never visible on
        # main, so they are not a delete delta
        dv_on_added = {
            ab(f): r for f, r in head_dvs.items() if f in (set(added))
        }
        if not added_abs and not removed and not dv_add and not dv_on_added:
            if drop_ref:
                os.unlink(
                    os.path.join(self._branch_refs_dir(), f"{name}.json")
                )
            return self.snapshot()  # nothing to merge: fast-forward no-op

        touched = set(removed) | set(dv_add)

        def _merge_commutes(intervening) -> bool:
            for _v, op, _a, removed_i, dvd_i in intervening:
                if op in _META_OPS:
                    return False  # metadata moved under us
                if (set(removed_i) | set(dvd_i)) & touched:
                    return False  # same files rewritten on both sides
            return True

        try:
            snap = self._commit(
                "merge_branch",
                fork_v,
                added_abs,
                remove=removed,
                dv_add={**dv_add, **dv_on_added},
                commute_ok=_merge_commutes,
            )
        except ConcurrentWriteError as exc:
            raise BranchMergeConflict(
                f"branch {name!r} does not merge cleanly: {exc}"
            ) from exc
        if drop_ref:
            os.unlink(os.path.join(self._branch_refs_dir(), f"{name}.json"))
        return snap

    def erase_rows(self, predicate) -> dict:
        """RIGHT-TO-BE-FORGOTTEN erasure (GDPR art. 17 / CCPA delete):
        remove every PHYSICAL trace of rows matching ``predicate`` from
        every surface a lakehouse can hide bytes in — not just the head
        view a plain :meth:`delete` gives:

        1. **DV-hidden pre-images**: files are located by a RAW scan
           (deletion vectors ignored), so a row soft-deleted months ago
           — invisible to reads, bytes still on disk — rewrites away
           too. The rewrite keeps non-subject soft-deleted rows out
           (the file's DV folds into the rewrite, like compaction).
        2. **History**: every prior version expires
           (``vacuum(retain_last=1, orphan_grace_ms=0)``) — time travel
           to a version that still served the subject must die, and
           its data files with it.
        3. **Persisted CDF sidecars**: the retained manifests'
           ``_changes/`` parquet still carries the subject's pre-images
           (including the ones THIS erase just wrote, when ``cdf`` is
           on); they are REWRITTEN without the matching rows — the
           change feed becomes deliberately LOSSY for the erased
           subject (the GDPR-over-CDF trade Delta documents: erasure
           beats feed completeness).

        REFUSES while any tag or branch ref exists: refs pin versions
        that would keep serving the subject — erasure must be explicit
        about its holds, never silently partial. Two holds this table
        CANNOT see and therefore cannot refuse on (stated, not hidden):
        shallow clones of this table reference its files by absolute
        path with no ref sidecar here, so their reads hit
        FileNotFound once the vacuum below deletes those files; and a
        :class:`PinnedCatalog` pin keeps naming the pre-erase version,
        so pinned reads FAIL between the erase and the catalog's next
        transaction (which re-pins to the erase commit). Erase between
        transactions, re-home or drop clones first — and a table
        registered in a known catalog should erase THROUGH it
        (``PinnedCatalog.erase_rows``: same erasure, pin moved to the
        erase commit in the same step).

        Returns ``{"files_rewritten", "versions_expired",
        "data_files_deleted", "sidecars_redacted"}``. Cost: one COW
        rewrite of subject-bearing files + one vacuum + O(retained
        change sidecars) rewrites — proportional to the subject's
        footprint, never the table."""
        tags, brs = self.tags(), self.branches()
        if tags or brs:
            raise ValueError(
                "erase_rows refused: refs still pin history — tags "
                f"{sorted(tags)} / branches {sorted(brs)}; drop them "
                "first (an erase under a live ref would be silently "
                "partial)"
            )
        prev = self.snapshot()
        versions_before = self._versions()
        # RAW scan: deletion vectors ignored, so DV-hidden pre-images
        # of the subject locate their files too
        raw = self._scan(sorted(prev.files), None, prev.schemas)
        touched_rel = self._touched_files(raw, lambda d: d.filter(predicate))
        if touched_rel:
            # survivors: live (DV-respected) non-subject rows of the
            # touched files — the rewrite folds the DV in, so neither
            # the subject nor unrelated soft-deleted rows resurrect
            self._rewrite(
                "erase",
                prev,
                touched_rel,
                lambda t: t.filter(~predicate),
                skip_empty=True,
            )
        removed = self.vacuum(retain_last=1, orphan_grace_ms=0)
        redacted = self._redact_change_files(predicate)
        return {
            "files_rewritten": len(touched_rel),
            "versions_expired": len(versions_before)
            - len(self._versions())
            + (1 if touched_rel else 0),
            "data_files_deleted": len(removed),
            "sidecars_redacted": redacted,
        }

    def _redact_change_files(self, predicate) -> int:
        """Rewrite retained manifests' persisted-CDF sidecars without
        rows matching ``predicate``; returns how many sidecar files
        were redacted. Manifests are swapped in place via the same
        ``os.replace`` discipline vacuum's gap-materialization uses
        (new sidecars exist BEFORE the manifest points at them; old
        sidecars unlink after)."""
        redacted = 0
        for v in self._versions():
            raw = self._raw(v)
            cfs = raw.get("change_files")
            if not cfs:
                continue
            new_list: list[str] = []
            old_gone: list[str] = []
            changed = False
            for cf in cfs:
                df = self.spark.read.parquet(os.path.join(self.path, cf))
                lg = self._to_logical(df)
                if not lg.filter(predicate).limit(1).count():
                    new_list.append(cf)  # clean: keep as-is
                    continue
                changed = True
                redacted += 1
                kept = lg.filter(~predicate)
                if kept.limit(1).count():
                    cdir = os.path.join(
                        _CHANGES_DIR, f"c-{uuid.uuid4().hex[:12]}"
                    )
                    out = os.path.join(self.path, cdir)
                    self._to_physical(kept).write.mode("error").parquet(out)
                    new_list.extend(
                        os.path.join(cdir, f)
                        for f in os.listdir(out)
                        if f.endswith(".parquet")
                    )
                old_gone.append(cf)
            if not changed:
                continue
            body = dict(raw)
            # an EMPTY list is a deliberate sentinel ("every change row
            # of this commit was redacted — the feed serves zero rows"),
            # distinct from ABSENT ("no sidecars: recompute from files",
            # which would hit the vacuumed pre-images and error)
            body["change_files"] = sorted(new_list)
            tmp = self._manifest_path(v) + ".redact"
            with open(tmp, "w") as fh:
                fh.write(json.dumps(body))
            os.replace(tmp, self._manifest_path(v))
            for cf in old_gone:
                try:
                    os.unlink(os.path.join(self.path, cf))
                except FileNotFoundError:
                    pass
        return redacted

    def vacuum(
        self,
        retain_last: int = 2,
        orphan_grace_ms: int = 3_600_000,
        dry_run: bool = False,
        keep_versions: list[int] | None = None,
        retain_ms: int | None = None,
    ) -> list[str]:
        """Delete data files referenced by NO retained manifest and drop
        the expired manifests. Time travel keeps working for the last
        ``retain_last`` versions; older versions are gone (the fail-safe
        retention boundary). Also collects orphans from crashed writes.
        Returns the deleted data-file paths.

        ``orphan_grace_ms`` — the in-flight-commit guard: a WRITER's
        data files land BEFORE its manifest publishes, so to a
        concurrent vacuum they are indistinguishable from crash
        orphans; deleting them would corrupt the commit the moment it
        publishes. A file referenced by NO manifest at all (not even an
        expired one) is therefore deleted only once it is older than
        the grace (default 1 h — Delta's orphan-retention rule). Files
        that EXPIRED manifests referenced are deleted regardless of
        age: they are retention policy, not maybe-in-flight writes.

        ``dry_run=True`` returns the data files a real vacuum WOULD
        delete and changes NOTHING — no file, shard, or sidecar is
        removed, no manifest is rewritten or dropped. The ops
        pre-flight every destructive retention pass deserves (Delta's
        ``VACUUM ... DRY RUN``).

        ``keep_versions`` — extra versions to retain BEYOND the
        ``retain_last`` horizon (a pinned-catalog pin, an external
        audit hold). Tagged versions (:meth:`create_tag`) are always
        retained. Retention may therefore be NON-CONTIGUOUS: a kept
        version whose delta-manifest base is dropped is first
        materialized as its equivalent full manifest, so every
        retained version keeps resolving without the dropped links.

        ``retain_ms`` — AGE-based retention (Delta's ``RETAIN N
        HOURS``): every version committed within the last
        ``retain_ms`` milliseconds is also kept, so "time travel works
        for 7 days" is one dial regardless of commit rate. Composes
        with ``retain_last`` (count floor) and tags/pins (point
        holds)."""
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        versions = self._versions()
        keep = set(versions[-retain_last:])
        if retain_ms is not None:
            cutoff = time.time() * 1000.0 - retain_ms
            keep |= {
                v
                for v in versions
                if self._raw(v)["timestamp_ms"] >= cutoff
            }
        for v in keep_versions or []:
            if v == 0:
                continue  # a catalog pin of 0 = not-yet-committed table
            if v not in versions:
                raise LookupError(
                    f"keep version {v} not in {versions} — already "
                    "expired (a pin recorded after its target was "
                    "vacuumed?)"
                )
            keep.add(v)
        for bname, bref in self.branches().items():
            bv = bref["fork_version"]
            if bv not in versions:
                # same contract as a tag that lost a race with vacuum:
                # a broken ref must be loud, not silently unpinned
                raise LookupError(
                    f"branch {bname!r} forked from version {bv}, which "
                    f"no longer exists ({versions}); drop_branch"
                    f"({bname!r}) to release it, then re-run vacuum"
                )
            keep.add(bv)
        for tag, v in self.tags().items():
            if v not in versions:
                # a tag that lost a race with an earlier vacuum (named
                # a version mid-sweep) must not brick retention forever
                # — but silently ignoring it would hide that the ref's
                # promise is already broken. Name the tag so the fix
                # (drop_tag) is one obvious call.
                raise LookupError(
                    f"tag {tag!r} pins version {v}, which no longer "
                    f"exists ({versions}); drop_tag({tag!r}) to "
                    "release it, then re-run vacuum"
                )
            keep.add(v)
        keep_v = sorted(keep)
        dropped = [v for v in versions if v not in keep]
        # every file ANY manifest (retained or expired) ever resolved
        # to — the set that separates "expired data" (delete now) from
        # "true orphan" (grace-gated): folded BEFORE manifests drop
        ever_ref = {f for v in versions for f in self._load(v).files}
        ever_shards = {
            s
            for v in versions
            for s in (self._raw(v).get("shard_index") or {})
        }
        # persisted-CDF sidecars referenced by any / by retained
        # manifests — folded BEFORE manifests drop, like ever_ref
        ever_cf = {
            f
            for v in versions
            for f in (self._raw(v).get("change_files") or [])
        }
        live_cf = {
            f
            for v in keep_v
            for f in (self._raw(v).get("change_files") or [])
        }
        now_ms = time.time() * 1000.0

        def _orphan_expired(abs_path: str) -> bool:
            try:
                return (
                    now_ms - os.path.getmtime(abs_path) * 1000.0
                    >= orphan_grace_ms
                )
            except OSError:
                return False
        # dropping expired manifests would also drop their txn stamps —
        # and last_committed_batch IS the streaming sinks' replay
        # detector, so a post-vacuum checkpoint replay would re-append
        # already-committed batches. Fold the expired stamps into a
        # txn_seen high-water map carried by the oldest retained
        # manifest (Delta keeps the same appId->version map in its
        # checkpoints for exactly this reason).
        folded: dict[str, int] = {}
        for v in dropped:
            raw_v = self._raw(v)
            for app, b in (raw_v.get("txn_seen") or {}).items():
                folded[app] = max(folded.get(app, b), b)
            t = raw_v.get("txn")
            if t:
                folded[t["app_id"]] = max(
                    folded.get(t["app_id"], t["batch_id"]), t["batch_id"]
                )
        # a retained manifest may be a DELTA whose base is about to
        # expire: materialize it as a FULL manifest so retained history
        # never folds past a dropped link — the oldest retained always
        # (it also absorbs the folded txn stamps), and any GAP-kept
        # version (tag / pin) whose base is being dropped. Content is
        # logically identical (same resolved snapshot + high-water txn
        # facts), so the immutability contract readers rely on holds.
        def _needs_full(v: int, oldest: bool) -> bool:
            raw = self._raw(v)
            if oldest:
                return "files" not in raw or bool(folded)
            return "base_version" in raw and raw["base_version"] not in keep

        for kv in keep_v if not dry_run else []:
            oldest = kv == keep_v[0]
            if not _needs_full(kv, oldest):
                continue
            snap = self._load(kv)
            tmp = self._manifest_path(kv) + ".ckpt"
            raw = self._raw(kv)
            if oldest:
                for app, b in (raw.get("txn_seen") or {}).items():
                    folded[app] = max(folded.get(app, b), b)
            with open(tmp, "w") as fh:
                fh.write(
                    json.dumps(
                        {
                            "version": snap.version,
                            "timestamp_ms": snap.timestamp_ms,
                            "operation": snap.operation,
                            # the commit's own delta identity survives
                            # the rewrite: file_changes/changes of this
                            # RETAINED version must not need the
                            # about-to-expire prior manifest
                            **(
                                {"add": raw["add"]}
                                if raw.get("add") is not None
                                else {}
                            ),
                            **(
                                {"remove": raw["remove"]}
                                if raw.get("remove") is not None
                                else {}
                            ),
                            **(
                                {"add_dvs": raw["add_dvs"]}
                                if raw.get("add_dvs")
                                else {}
                            ),
                            **self._full_manifest_body(snap),
                            **(
                                {"partition_by": self.partition_by}
                                if self.partition_by
                                else {}
                            ),
                            **(
                                {"constraints": self.check_constraints}
                                if self.check_constraints
                                else {}
                            ),
                            **(
                                {"column_map": self.column_map}
                                if self.column_map
                                else {}
                            ),
                            **(
                                {"dropped_cols": self.dropped_cols}
                                if self.dropped_cols
                                else {}
                            ),
                            **({"cdf": True} if self.cdf else {}),
                            **(
                                # `is not None`: an EMPTY list is the
                                # redaction sentinel (erase_rows) and
                                # must survive the rewrite — dropping
                                # it would flip the feed back to a
                                # recompute over vacuumed pre-images
                                {"change_files": raw["change_files"]}
                                if raw.get("change_files") is not None
                                else {}
                            ),
                            **({"txn": raw["txn"]} if raw.get("txn") else {}),
                            **(
                                {"txn_seen": folded}
                                if oldest and folded
                                else (
                                    {"txn_seen": raw["txn_seen"]}
                                    if raw.get("txn_seen")
                                    else {}
                                )
                            ),
                        }
                    )
                )
            os.replace(tmp, self._manifest_path(kv))
        live = {f for v in keep_v for f in self._load(v).files}
        # sweep shard sidecars referenced by NO retained manifest:
        # expired checkpoints' shards go regardless of age; an UNKNOWN
        # shard may belong to an in-flight commit (shards are plain
        # writes before the manifest publishes) — grace-gated
        live_shards = {
            s
            for v in keep_v
            for s in (self._raw(v).get("shard_index") or {})
        }
        sdir = os.path.join(self.path, _MANIFEST_DIR, "shards")
        for s in (
            os.listdir(sdir) if not dry_run and os.path.isdir(sdir) else []
        ):
            rel_s = os.path.join("shards", s)
            if rel_s in live_shards:
                continue
            if rel_s in ever_shards or _orphan_expired(
                os.path.join(sdir, s)
            ):
                os.unlink(os.path.join(sdir, s))
        # sweep persisted-CDF sidecars exactly like data files: expired
        # manifests' sidecars go with them (they are retention policy);
        # sidecars referenced by NO manifest may belong to an in-flight
        # commit (written before its manifest publishes) — grace-gated
        cdir_root = os.path.join(self.path, _CHANGES_DIR)
        for cbatch in (
            os.listdir(cdir_root)
            if not dry_run and os.path.isdir(cdir_root)
            else []
        ):
            cbdir = os.path.join(cdir_root, cbatch)
            keep_any = False
            for root, _dirs, names in os.walk(cbdir, topdown=False):
                for f in names:
                    rel = os.path.normpath(
                        os.path.relpath(os.path.join(root, f), self.path)
                    )
                    if f.endswith(".parquet"):
                        if rel in live_cf:
                            keep_any = True
                        elif rel in ever_cf or _orphan_expired(
                            os.path.join(root, f)
                        ):
                            os.unlink(os.path.join(root, f))
                        else:
                            keep_any = True  # maybe in-flight: spare
            if not keep_any:
                for root, _dirs, names in os.walk(cbdir, topdown=False):
                    for f in names:
                        os.unlink(os.path.join(root, f))
                    os.rmdir(root)
        removed = []
        ddir = os.path.join(self.path, _DATA_DIR)
        for batch in os.listdir(ddir) if os.path.isdir(ddir) else []:
            bdir = os.path.join(ddir, batch)
            # bottom-up walk: partitioned batches nest _pk_<c>=<v> dirs
            keep_any = False
            for root, dirs, names in os.walk(bdir, topdown=False):
                for f in names:
                    rel = os.path.normpath(
                        os.path.relpath(os.path.join(root, f), self.path)
                    )
                    if f.endswith(".parquet"):
                        if rel in live:
                            keep_any = True
                        elif rel in ever_ref or _orphan_expired(
                            os.path.join(root, f)
                        ):
                            if not dry_run:
                                os.unlink(os.path.join(root, f))
                            removed.append(rel)
                        else:
                            keep_any = True  # maybe in-flight: spare dirs
            if not keep_any and not dry_run:
                # batch fully vacuumed; drop _SUCCESS/.crc sidecars + dirs
                for root, dirs, names in os.walk(bdir, topdown=False):
                    for f in names:
                        os.unlink(os.path.join(root, f))
                    os.rmdir(root)
        if dry_run:
            return removed
        for v in dropped:
            os.unlink(self._manifest_path(v))
        return removed


_BUCKET_COL = "_bucket"
_BUCKET_SPEC_FILE = "_bucket_spec.json"


class BucketedTable(SnapshotTable):
    """Hash-bucketed table layout: every row lands in bucket
    ``portable_hash64(key) % n_buckets``, and the bucket id is a
    partition column — so the whole partition machinery (exact
    manifest pruning, sharded checkpoints, partition-scoped compaction
    and Z-order, metadata-only counts) applies to a HASH of the key
    instead of a value range. This is the classic point-lookup layout
    for a 100 TB id-keyed table: :meth:`lookup` of k keys plans a scan
    over only those keys' buckets' files — 1/n_buckets of the table
    per distinct bucket, without any sort order on the key — and a
    MERGE of a key-local batch rewrites only the touched buckets'
    files (the key can only live where its hash points).

    The bucket function is ``portable_hash64`` of the key's string
    form (md5-based), so an external engine — the DuckDB oracle, a
    non-Spark reader — can recompute bucket residency exactly:
    ``('0x' || substr(md5(key::VARCHAR), 1, 15))::BIGINT % n``.
    Int and string keys only (their string forms are canonical across
    engines); NULL keys land in the NULL partition and are never
    lookup targets.

    The spec ``(bucket_col, n_buckets)`` is TABLE state: published
    once (atomically, via the commit protocol) as a sidecar next to
    the manifests on the first write, re-read when a handle opens
    without it, and a handle opened with a CONFLICTING spec fails
    fast — two writers hashing into different bucket counts would
    silently poison every later lookup. Changing ``n_buckets`` is a
    table rebuild, exactly as in Hive/Spark bucketing.

    ``partition_by`` may add ordinary partition columns IN FRONT of
    the bucket (date + bucket — the partitioned-and-bucketed fact
    layout); the bucket is always the innermost dir level.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bucket_col: str | None = None,
        n_buckets: int | None = None,
        partition_by: list[str] | None = None,
        **kw,
    ):
        super().__init__(
            spark,
            path,
            partition_by=list(partition_by or []) + [_BUCKET_COL],
            **kw,
        )
        stored = self._stored_bucket_spec()
        if stored is not None:
            if bucket_col is not None and (
                bucket_col != stored["bucket_col"]
                or (n_buckets or stored["n_buckets"]) != stored["n_buckets"]
            ):
                raise ValueError(
                    f"table at {self.path} is bucketed by "
                    f"({stored['bucket_col']}, {stored['n_buckets']}); "
                    f"handle requested ({bucket_col}, {n_buckets})"
                )
            self.bucket_col = stored["bucket_col"]
            self.n_buckets = int(stored["n_buckets"])
        else:
            if bucket_col is None or not n_buckets:
                raise ValueError(
                    "new bucketed table needs bucket_col and n_buckets"
                )
            self.bucket_col = bucket_col
            self.n_buckets = int(n_buckets)

    # ------------------------------------------------------------- spec

    def _spec_path(self) -> str:
        return os.path.join(self.path, _MANIFEST_DIR, _BUCKET_SPEC_FILE)

    def _stored_bucket_spec(self) -> dict | None:
        try:
            with open(self._spec_path()) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return None

    def _publish_spec(self) -> None:
        """First-writer-wins spec publication through the commit
        protocol (same atomicity story as a manifest). A concurrent
        creator publishing the SAME spec is a no-op; a different spec
        already on disk fails the write loudly."""
        if self._stored_bucket_spec() is not None:
            self._check_spec()
            return
        os.makedirs(os.path.join(self.path, _MANIFEST_DIR), exist_ok=True)
        body = json.dumps(
            {"bucket_col": self.bucket_col, "n_buckets": self.n_buckets}
        )
        self.commit_protocol.publish(self._spec_path(), body)
        self._check_spec()

    def _check_spec(self) -> None:
        stored = self._stored_bucket_spec()
        if stored and (
            stored["bucket_col"] != self.bucket_col
            or int(stored["n_buckets"]) != self.n_buckets
        ):
            raise ValueError(
                f"bucket spec conflict at {self.path}: table has "
                f"({stored['bucket_col']}, {stored['n_buckets']}), handle "
                f"has ({self.bucket_col}, {self.n_buckets})"
            )

    # ---------------------------------------------------------- buckets

    def bucket_expr(self):
        """The bucket id as a Column — usable by external plans that
        want bucket-aligned processing (e.g. repartition a batch by the
        table's own bucket function before a bucket-wise merge)."""
        from ..functions.scalar import portable_hash64

        return F.pmod(
            portable_hash64(F.col(self.bucket_col).cast("string")),
            F.lit(self.n_buckets),
        ).cast("int")

    def bucket_of(self, value) -> int:
        """Driver-side twin of :meth:`bucket_expr` (same md5, same
        string canonicalization) — how :meth:`lookup` routes keys to
        buckets without touching the cluster."""
        import hashlib

        h = int(hashlib.md5(str(value).encode()).hexdigest()[:15], 16)
        return h % self.n_buckets

    def _write_batch(self, df: DataFrame, spark_only: bool = False):
        # ALWAYS (re)derive the bucket: it is pure derived state, and
        # internal rewrite paths build frames where only PART of the
        # rows carry it (merge unions file-read survivors, which have
        # it, with the user's source batch, which doesn't — a
        # conditional add would land every upserted row in the NULL
        # partition). Recomputation is idempotent by construction.
        df = df.withColumn(_BUCKET_COL, self.bucket_expr())
        self._publish_spec()
        return super()._write_batch(df, spark_only)

    # ----------------------------------------------------------- reads

    def lookup(
        self,
        values: list,
        version: int | None = None,
    ) -> DataFrame:
        """Point lookup: rows whose ``bucket_col`` is in ``values``.
        Plans a scan over ONLY the target buckets' files (exact
        manifest-level partition pruning; sharded checkpoints resolve
        only those buckets' metadata) with the residual equality filter
        on top — the row-exactness still comes from the filter, the
        pruning only bounds the scan."""
        buckets = sorted({self.bucket_of(v) for v in values})
        df = self.read(
            version=version,
            partition_where=[(_BUCKET_COL, "in", buckets)],
        )
        return df.filter(F.col(self.bucket_col).isin(list(values)))
