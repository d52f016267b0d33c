"""Delta Lake transaction-log EXPORT — spec-faithful, zero-copy
interop out of the :class:`~.lakehouse.SnapshotTable` format.

Writes a directory that a standard Delta Lake reader (delta-spark,
delta-rs, DuckDB's ``delta`` extension) opens as a Delta table:
data files HARD-LINKED from the source table (zero-copy — and the
links keep the bytes alive even after the source vacuums them), plus
``_delta_log/`` JSON commits per the PUBLIC Delta Transaction Log
Protocol (delta-io/delta PROTOCOL.md): ``protocol`` (minReader 1 /
minWriter 2 — the plain-parquet feature set every reader supports),
``metaData`` (Spark StructType ``schemaString``), and per-file
``add`` / ``remove`` actions with ``numRecords``/min/max ``stats``
re-emitted from our manifest's footer stats.

This environment has no Delta jars and no network, so third-party
READ verification is env-blocked (stated, not hidden). The export is
verified three independent ways instead (tests/test_delta_export.py):
structural protocol assertions, a from-spec minimal reader that
shares NO code with this writer, and DuckDB reading exactly the
exported file set.

Refusals — honesty over silent lossiness:

- **Live deletion vectors** at the exported version: Delta DVs need
  readerVersion 3 / writerVersion 7 plus a binary RoaringBitmap
  encoding; exporting the files without their vectors would
  RESURRECT soft-deleted rows. ``compact()`` (which folds vectors
  into rewrites) first — the same remedy the MoR docs give.
- **Schema / metadata changes inside a sync range**: Delta carries
  schema in ``metaData`` actions; re-emitting it mid-log is legal
  but our incremental sync keeps the stronger invariant that the
  exported log's schema equals commit 0's — a diverged range refuses
  with the exact version.

Tables with an active column map / dropped columns (post
rename/drop/readd lifecycle) export with Delta NAME-mode column
mapping instead of refusing: ``delta.columnMapping.mode: name`` in
the metaData configuration, per-field ``delta.columnMapping.id`` /
``physicalName`` metadata in the ``schemaString`` (reader 2 /
writer 5) — a mapped reader binds parquet columns by their physical
(creation-time) names and presents the logical view, and dropped
columns' retained bytes are ignored, exactly matching this format's
own read semantics.

Partitioned tables export with ``partitionColumns: []``: this
format keeps partition columns physically present in the data files
(unlike Delta's directory convention), so Delta treats them as
regular data columns — every row and value correct, Delta-side
partition pruning forgone (documented trade; re-partition on the
Delta side if pruning matters there).

Reference anchor: the reference hands result tables to downstream
BI/warehouse consumers via CTAS into its native format
(code/ingest/3B2_load_pdf_to_text.sql:1,
code/curate/04_sales_enrich_sp.sql:61); this is the same hand-off
re-expressed as an open-format export any engine can ingest.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
import uuid
from urllib.parse import quote, unquote

from .lakehouse import _DATA_DIR, _LAYOUT_OPS, _META_OPS, Snapshot, SnapshotTable

_LOG_DIR = "_delta_log"
#: sidecar at the EXPORT root (outside _delta_log, which readers
#: reserve for the \d{20}.json / checkpoint patterns): maps exported
#: delta versions to source-table versions so sync knows where to
#: resume. Unknown files at a Delta table root are ignored by readers.
_STATE_FILE = "_spark_graft_export.json"


def _checkpoint_version(logdir: str) -> int | None:
    """The last checkpoint's version from ``_last_checkpoint``, or
    None — the ONE place the pointer is parsed (sync's crash repair,
    the fold seed, and log expiry all read it)."""
    lc = os.path.join(logdir, "_last_checkpoint")
    if not os.path.exists(lc):
        return None
    with open(lc) as fh:
        return json.load(fh)["version"]


def _disk_version(logdir: str) -> int:
    """Highest delta version ON DISK from the directory listing alone
    (checkpoint pointer + ``\\d{20}.json`` names) — no log fold."""
    v = _checkpoint_version(logdir)
    disk_v = -1 if v is None else v
    for nm in os.listdir(logdir):
        m2 = re.fullmatch(r"(\d{20})\.json", nm)
        if m2:
            disk_v = max(disk_v, int(m2.group(1)))
    if disk_v < 0:
        raise FileNotFoundError(f"no delta log at {logdir}")
    return disk_v


def _is_mapped(table: SnapshotTable) -> bool:
    return bool(table.column_map or table.dropped_cols)


def _schema_string(table: SnapshotTable, version: int) -> str:
    """Spark StructType JSON (== Delta's ``schemaString``) at
    ``version`` — an EMPTY version (delete-all) inherits the last
    non-empty one's schema, which is safe because schema-changing
    metadata ops refuse export/sync outright.

    A table carrying a column map / dropped columns exports with Delta
    NAME-mode column mapping (PROTOCOL.md, reader 2 / writer 5): every
    logical field is annotated with ``delta.columnMapping.id`` and
    ``delta.columnMapping.physicalName`` (the creation-time name the
    parquet files actually store), so a mapped reader binds columns by
    physical name and presents the logical view — and dropped columns'
    bytes, present in the files but absent from the schemaString, are
    ignored exactly as this format's own readers ignore them. Field
    ids are positional at export time and stable for the log's life
    because schema-changing ops refuse sync."""
    for v in reversed([x for x in table._versions() if x <= version]):
        try:
            schema = table.read(version=v).schema
        except ValueError:
            continue  # empty version: walk back
        if not _is_mapped(table):
            return schema.json()
        d = schema.jsonValue()
        for i, f in enumerate(d["fields"], start=1):
            md = dict(f.get("metadata") or {})
            md["delta.columnMapping.id"] = i
            md["delta.columnMapping.physicalName"] = table.column_map.get(
                f["name"], f["name"]
            )
            f["metadata"] = md
        return json.dumps(d)
    raise ValueError(
        "cannot determine the export schema: every version at or "
        f"before v{version} is empty"
    )


def _refuse_unexportable(table: SnapshotTable, snap: Snapshot) -> None:
    if snap.dvs:
        raise ValueError(
            f"export refused: version {snap.version} carries live "
            f"deletion vectors on {len(snap.dvs)} file(s) — plain-"
            "parquet Delta (reader 1) would resurrect their soft-"
            "deleted rows; compact() to fold the vectors, then export"
        )


def _dst_relname(table: SnapshotTable, f: str) -> str:
    """Stable export-relative name for a manifest file entry: in-root
    files keep their relative path; absolute references (shallow
    clones, merged branch files) land under ``imported/`` with a
    content-address prefix so two sources can never collide."""
    if not os.path.isabs(f):
        return f
    digest = hashlib.sha1(f.encode()).hexdigest()[:12]
    return f"imported/{digest}_{os.path.basename(f)}"


def _link_in(src_abs: str, dst_abs: str) -> None:
    if os.path.exists(dst_abs):
        return  # same content by construction (content-addressed name)
    os.makedirs(os.path.dirname(dst_abs), exist_ok=True)
    try:
        os.link(src_abs, dst_abs)
    except OSError:
        shutil.copy2(src_abs, dst_abs)  # cross-device fallback


def _delta_stats(snap: Snapshot, f: str) -> str | None:
    st = (snap.stats or {}).get(f)
    if not st:
        return None
    out: dict = {}
    nr = st.get("_nrows")
    if nr:
        out["numRecords"] = nr[0]
    mins = {c: v[0] for c, v in st.items() if c != "_nrows" and v[0] is not None}
    maxs = {c: v[1] for c, v in st.items() if c != "_nrows" and v[1] is not None}
    if mins:
        out["minValues"] = mins
    if maxs:
        out["maxValues"] = maxs
    return json.dumps(out) if out else None


def _require_source(table: SnapshotTable, f: str) -> str:
    """Absolute source path for a manifest file entry, with the guided
    refusal when the bytes are gone — called during PRE-WRITE
    validation (so a vacuumed file refuses before any Delta commit
    publishes) and again at action-build time (the validate→write gap
    is not atomic against a concurrent vacuum)."""
    src_abs = f if os.path.isabs(f) else os.path.join(table.path, f)
    if not os.path.exists(src_abs):
        raise FileNotFoundError(
            f"export needs {src_abs} but it is gone (vacuumed between "
            "commit and sync?) — sync before vacuuming, or re-export"
        )
    return src_abs


def _add_action(
    table: SnapshotTable, snap: Snapshot, f: str, data_change: bool = True
) -> dict:
    src_abs = _require_source(table, f)
    rel = _dst_relname(table, f)
    add = {
        "path": quote(rel),
        "partitionValues": {},
        "size": os.path.getsize(src_abs),
        "modificationTime": int(os.path.getmtime(src_abs) * 1000),
        "dataChange": data_change,
    }
    stats = _delta_stats(snap, f)
    if stats:
        add["stats"] = stats
    return {"add": add}


def _write_commit(dst: str, delta_version: int, actions: list[dict]) -> None:
    """Content-atomic, claim-once commit publish — the PosixCommit
    ``os.link`` pattern: the file appears with its full body or not at
    all, and two racing writers get exactly one winner (a bare
    exists-check + replace would let the second silently clobber the
    first)."""
    logdir = os.path.join(dst, _LOG_DIR)
    os.makedirs(logdir, exist_ok=True)
    path = os.path.join(logdir, f"{delta_version:020d}.json")
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise FileExistsError(
            f"delta commit {delta_version} already exported at {path}"
        )
    finally:
        os.unlink(tmp)


def _load_state(dst: str) -> dict:
    try:
        with open(os.path.join(dst, _STATE_FILE)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no export sidecar ({_STATE_FILE}) under {dst!r} — either "
            "this directory is not a spark-graft Delta export, or the "
            "sidecar was deleted; delete dst and export_delta afresh"
        ) from None


def _save_state(dst: str, state: dict) -> None:
    os.makedirs(dst, exist_ok=True)  # sidecar is the FIRST write now
    tmp = os.path.join(dst, f"{_STATE_FILE}.tmp")
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, os.path.join(dst, _STATE_FILE))


def export_delta(
    table: SnapshotTable, dst: str, version: int | None = None
) -> dict:
    """Export ONE version of ``table`` as Delta commit 0 under ``dst``
    (snapshot export — the squashed head; :func:`sync_delta` extends
    the log incrementally afterwards). Returns
    ``{"delta_version": 0, "table_version", "files"}``."""
    snap = table.snapshot(version)
    _refuse_unexportable(table, snap)
    if os.path.isdir(os.path.join(dst, _LOG_DIR)):
        raise FileExistsError(
            f"{dst!r} already holds a _delta_log — sync_delta extends "
            "an existing export; export_delta starts a fresh one"
        )
    schema_string = _schema_string(table, snap.version)
    now_ms = int(time.time() * 1000)
    # a column map / dropped columns need NAME-mode column mapping:
    # reader 2 / writer 5 plus the mapping configuration keys — a
    # plain table stays at the reader-1 feature set every reader opens
    if _is_mapped(table):
        protocol = {"minReaderVersion": 2, "minWriterVersion": 5}
        configuration = {
            "delta.columnMapping.mode": "name",
            "delta.columnMapping.maxColumnId": str(
                len(json.loads(schema_string)["fields"])
            ),
        }
    else:
        protocol = {"minReaderVersion": 1, "minWriterVersion": 2}
        configuration = {}
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "WRITE",
                "operationParameters": {"mode": "ErrorIfExists"},
                "engineInfo": "summit23-spark snapshot export",
            }
        },
        {"protocol": protocol},
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": configuration,
                "createdTime": now_ms,
            }
        },
    ]
    # pre-write validation: every source file must exist BEFORE any
    # byte lands under dst (a vacuumed file must refuse with the
    # guided message, not die mid-copy after a prefix published)
    for f in sorted(snap.files):
        _require_source(table, f)
    # the sidecar publishes FIRST, at delta_version -1 ("commit 0
    # pending"): a crash before commit 0 then leaves a destination
    # sync_delta can diagnose with a guided error — the old order
    # (commit first) could wedge dst with a _delta_log and no sidecar.
    # The -1/(version-1) pair is chosen so sync's crash repair (log
    # ahead of sidecar advances both counters by the gap) lands on
    # exactly (0, snap.version) when commit 0 DID publish.
    state = {
        "table_path": table.path,
        "table_version": snap.version - 1,
        "delta_version": -1,
        "schema_string": schema_string,
    }
    _save_state(dst, state)
    for f in sorted(snap.files):
        src_abs = _require_source(table, f)
        actions.append(_add_action(table, snap, f))
        _link_in(src_abs, os.path.join(dst, _dst_relname(table, f)))
    _write_commit(dst, 0, actions)
    state.update({"table_version": snap.version, "delta_version": 0})
    _save_state(dst, state)
    return {
        "delta_version": 0,
        "table_version": snap.version,
        "files": len(snap.files),
    }


def sync_delta(table: SnapshotTable, dst: str) -> dict:
    """Extend an existing export with one Delta commit PER source
    commit since the last export/sync — add/remove actions from the
    manifests' own commit deltas, so Delta-side time travel replays
    the same history. Returns ``{"synced_versions", "delta_version"}``.

    The WHOLE range validates before anything is written (a mid-range
    refusal must never leave a half-synced log): source-file
    existence for every added file (a vacuumed file refuses with the
    guided message before any commit publishes), metadata ops, schema
    drift from commit 0's metaData — checked PER VERSION, because a
    ``schema_evolution=True`` append widens the schema without a
    metadata op, and an evolve-then-revert range would pass a
    head-only check while exporting files whose physical schema the
    log's schemaString does not describe — a deletion-vector delta,
    AND any version carrying live deletion vectors at all: the
    per-commit delta deliberately excludes DVs riding on ADDED files
    (a rollback re-adds files WITH their vectors), and exporting
    those files would resurrect their soft-deleted rows at reader 1,
    the exact lossiness :func:`export_delta`'s refusal exists to
    prevent.

    Crash-safe: a death between a commit write and the sidecar update
    is repaired on the next call by reconciling the sidecar against
    the log on disk (each sync commit maps 1:1, in order, to one
    source version). Refuses a ``table`` that is not the one this
    export recorded — syncing another table would splice two
    histories into one log."""
    state = _load_state(dst)
    if os.path.realpath(table.path) != os.path.realpath(
        state["table_path"]
    ):
        raise ValueError(
            f"sync refused: this export tracks "
            f"{state['table_path']!r}, not {table.path!r} — syncing "
            "another table would splice two histories into one log"
        )
    # highest delta version ON DISK from a directory listing alone —
    # folding the whole log (every action line of every commit) just
    # for this number would make the common no-op sync O(log size)
    try:
        disk_v = _disk_version(os.path.join(dst, _LOG_DIR))
    except FileNotFoundError:
        if state["delta_version"] < 0:
            raise FileNotFoundError(
                f"export_delta crashed before publishing commit 0 "
                f"under {dst!r} (sidecar present, no commits) — "
                "delete dst and export_delta afresh"
            ) from None
        raise
    if disk_v > state["delta_version"]:
        # crash between _write_commit and _save_state: the log ran
        # ahead of the sidecar; advance both counters by the gap
        gap = disk_v - state["delta_version"]
        state["table_version"] += gap
        state["delta_version"] = disk_v
        _save_state(dst, state)
    last_tv = state["table_version"]
    head = table.snapshot().version
    if head < last_tv:
        raise ValueError(
            f"table head v{head} is BEHIND the exported v{last_tv} "
            "(rollback since the export?) — re-export to a fresh dst"
        )
    changes = table.file_changes(last_tv, head)
    snaps: dict[int, Snapshot] = {}
    for v, op, _added, _removed, dv_delta in changes:
        for f in _added:
            # pre-write validation: a vacuumed source file must refuse
            # with the guided message BEFORE any Delta commit of the
            # range publishes, not as a raw copy error mid-range
            _require_source(table, f)
        if op in _META_OPS:
            raise ValueError(
                f"sync refused at table v{v}: metadata operation "
                f"{op!r} — the exported log's schema must equal "
                "commit 0's; re-export to a fresh dst"
            )
        if dv_delta:
            raise ValueError(
                f"sync refused at table v{v}: the commit soft-deletes "
                "rows via deletion vectors, invisible to a reader-1 "
                "Delta log; compact() and re-export"
            )
        snaps[v] = table.snapshot(v)
        if snaps[v].dvs:
            raise ValueError(
                f"sync refused at table v{v}: live deletion vectors "
                "(a rollback or merge re-added DV-carrying files — "
                "absent from the per-commit delta, but a reader-1 "
                "Delta log would resurrect their soft-deleted rows); "
                "compact() and re-export"
            )
        # PER ADDING VERSION, not head-only: a schema_evolution=True
        # append widens the schema without a metadata op, and an
        # evolve-then-revert range would slip past a head check while
        # its files' physical schema diverges from the schemaString.
        # Only versions that ADD files can widen (removes can only
        # narrow the merged view, and a wider-than-files schemaString
        # reads the absent columns as nulls — valid Delta), so
        # delete-only commits skip the inference pass.
        if _added and _schema_string(table, v) != state["schema_string"]:
            raise ValueError(
                f"sync refused at table v{v}: schema diverged from "
                "the exported metaData (schema_evolution write?); "
                "re-export to a fresh dst"
            )
    synced = 0
    dv = state["delta_version"]
    now_ms = int(time.time() * 1000)
    for v, op, added, removed, _dv_delta in changes:
        snap_v = snaps[v]
        # layout-only rewrites: Delta's OPTIMIZE convention marks their
        # add/remove actions ``dataChange: false`` so a Delta STREAMING
        # consumer of the exported log does not reprocess every
        # compacted row as new data (batch reads ignore the flag)
        data_change = op not in _LAYOUT_OPS
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": op.upper() or "WRITE",
                    "engineInfo": "summit23-spark incremental sync",
                }
            }
        ]
        for f in added:
            # action first (its existence check fires the guided
            # refusal), THEN the link — never a raw copy error
            actions.append(_add_action(table, snap_v, f, data_change))
            src_abs = f if os.path.isabs(f) else os.path.join(table.path, f)
            _link_in(src_abs, os.path.join(dst, _dst_relname(table, f)))
        for f in removed:
            actions.append(
                {
                    "remove": {
                        "path": quote(_dst_relname(table, f)),
                        "deletionTimestamp": now_ms,
                        "dataChange": data_change,
                    }
                }
            )
        dv += 1
        _write_commit(dst, dv, actions)
        state.update({"table_version": v, "delta_version": dv})
        _save_state(dst, state)
        synced += 1
    return {"synced_versions": synced, "delta_version": dv}


# ------------------------------------------------ checkpoint parquet
#
# Delta's answer to unbounded log folds (the same design our own
# manifests use, full checkpoints every _CHECKPOINT_EVERY commits): a
# parquet file holding the folded state — one row per action — plus a
# ``_last_checkpoint`` pointer, so a reader loads ONE parquet + the
# JSON commits after it instead of every JSON since version 0. At 100
# TB / thousands of synced commits this is what keeps open-format
# consumers O(1) on history length.


def _fold_state(dst: str):
    """Writer-side fold of the exported log: (delta_version, protocol,
    metaData, {path: add}) — seeded from the last checkpoint parquet
    when one exists (the pre-checkpoint JSONs may already be expired),
    then folding the JSON commits after it."""
    import pyarrow.parquet as pq

    logdir = os.path.join(dst, _LOG_DIR)
    live: dict[str, dict] = {}
    protocol = None
    metadata = None
    ck = _checkpoint_version(logdir)
    start = -1 if ck is None else ck
    if ck is not None:
        ck_file = os.path.join(logdir, f"{start:020d}.checkpoint.parquet")
        if not os.path.exists(ck_file):
            # a FOREIGN log (import path) may use multi-part
            # checkpoints (N.checkpoint.%010d.%010d.parquet) — legal
            # at reader 1 but not a shape this fold reads; refuse with
            # the shape named rather than a raw missing-file error
            raise ValueError(
                f"unsupported checkpoint shape at {logdir}: "
                f"_last_checkpoint names version {start} but the "
                "single-file checkpoint parquet is absent (multi-part "
                "or v2 checkpoint?) — only single-file classic "
                "checkpoints are supported"
            )
        tbl = pq.read_table(ck_file)
        for row in tbl.to_pylist():
            if row.get("protocol"):
                protocol = row["protocol"]
            if row.get("metaData"):
                metadata = row["metaData"]
                md_pv = metadata.get("format", {}).get("options")
                if isinstance(md_pv, list):  # pyarrow map -> pairs
                    metadata["format"]["options"] = dict(md_pv)
            if row.get("add"):
                add = dict(row["add"])
                if isinstance(add.get("partitionValues"), list):
                    add["partitionValues"] = dict(add["partitionValues"])
                live[add["path"]] = add
    version = start
    for name in sorted(os.listdir(logdir)):
        m = re.fullmatch(r"(\d{20})\.json", name)
        if not m or int(m.group(1)) <= start:
            continue
        version = int(m.group(1))
        with open(os.path.join(logdir, name)) as fh:
            for line in fh:
                a = json.loads(line)
                if "protocol" in a:
                    protocol = a["protocol"]
                if "metaData" in a:
                    metadata = a["metaData"]
                if "add" in a:
                    live[a["add"]["path"]] = a["add"]
                if "remove" in a:
                    live.pop(a["remove"]["path"], None)
    if version < 0:
        raise FileNotFoundError(f"no delta log at {logdir}")
    return version, protocol, metadata, live


def write_delta_checkpoint(dst: str) -> dict:
    """Materialize the exported log's folded state as
    ``<v>.checkpoint.parquet`` + ``_last_checkpoint`` (Delta's
    checkpoint contract, reader-1 feature set: protocol, metaData and
    the live ``add`` set — no tombstones needed, this exporter never
    coordinates a Delta-side VACUUM). Written with pyarrow under an
    explicit schema so the single-FILE naming and nested types are
    exact. Returns ``{"checkpoint_version", "actions"}``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    version, protocol, metadata, live = _fold_state(dst)
    map_t = pa.map_(pa.string(), pa.string())
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", map_t),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            (
                "format",
                pa.struct([("provider", pa.string()), ("options", map_t)]),
            ),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", map_t),
            ("createdTime", pa.int64()),
        ]
    )
    proto_t = pa.struct(
        [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
    )
    schema = pa.schema(
        [("protocol", proto_t), ("metaData", meta_t), ("add", add_t)]
    )
    rows: list[dict] = [
        {"protocol": protocol, "metaData": None, "add": None},
        {"protocol": None, "metaData": metadata, "add": None},
    ]
    for path in sorted(live):
        a = dict(live[path])
        a.setdefault("stats", None)
        # PROTOCOL.md: actions reconstituted into a checkpoint carry
        # dataChange: false — the checkpoint restates existing state,
        # and a streaming consumer must not replay it as new data
        a["dataChange"] = False
        rows.append({"protocol": None, "metaData": None, "add": a})
    logdir = os.path.join(dst, _LOG_DIR)
    ck = os.path.join(logdir, f"{version:020d}.checkpoint.parquet")
    tmp = f"{ck}.{uuid.uuid4().hex}.tmp"
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
    os.replace(tmp, ck)
    lc_tmp = os.path.join(logdir, f"_last_checkpoint.{uuid.uuid4().hex}.tmp")
    with open(lc_tmp, "w") as fh:
        json.dump({"version": version, "size": len(rows)}, fh)
    os.replace(lc_tmp, os.path.join(logdir, "_last_checkpoint"))
    return {"checkpoint_version": version, "actions": len(rows)}


def expire_delta_log(dst: str) -> int:
    """Delta's metadata cleanup: delete the JSON commits at or before
    the last checkpoint (their state lives in the checkpoint parquet).
    Head reads are unaffected; Delta time travel to the expired
    versions dies with them — the same retention trade the source
    table's own vacuum documents. Returns how many commit files were
    removed; refuses when no checkpoint exists (expiry without a
    checkpoint would destroy the table)."""
    logdir = os.path.join(dst, _LOG_DIR)
    ckpt_v = _checkpoint_version(logdir)
    if ckpt_v is None:
        raise FileNotFoundError(
            "expire_delta_log refused: no _last_checkpoint — write a "
            "checkpoint first (expiry would destroy the log)"
        )
    removed = 0
    for name in sorted(os.listdir(logdir)):
        m = re.fullmatch(r"(\d{20})\.json", name)
        if m and int(m.group(1)) <= ckpt_v:
            os.unlink(os.path.join(logdir, name))
            removed += 1
    return removed


# ------------------------------------------------------------ import
#
# The REVERSE interop direction: a standard Delta table's _delta_log
# head folds into a brand-new SnapshotTable, data files hard-linked
# (zero-copy — migrating INTO this format costs O(files) metadata, no
# data movement, at 100 TB exactly like the export). The fold is
# checkpoint-aware (_fold_state), so a log whose early JSON commits
# were expired imports from the checkpoint parquet like any reader.


def import_delta(spark, src: str, table_path: str) -> dict:
    """Create a new :class:`~.lakehouse.SnapshotTable` at
    ``table_path`` from the Delta table at ``src`` (its current head —
    Delta history does not transfer; the import is a snapshot
    hand-off, the mirror of :func:`export_delta`). Data files are
    hard-linked; per-file stats are recomputed from the parquet
    footers by the normal commit path, so data skipping works
    immediately.

    Supported feature sets — refusals mirror the export's honesty:

    - reader 1 (plain parquet): direct import.
    - reader 2 + NAME-mode column mapping: the per-field
      ``physicalName`` metadata becomes the table's ``column_map``
      (files keep physical names, reads present the logical view);
      physical columns present in the files but absent from the
      ``schemaString`` are registered as ``dropped_cols`` so they stay
      invisible and their names stay reserved — the same semantics the
      mapping encodes on the Delta side.
    - refused: reader 3+ features (deletion vectors would silently
      resurrect rows), ID-mode mapping, ``partitionColumns`` (Delta
      keeps partition values OUTSIDE the data files; linking would
      lose those columns — materialize via a mapped read +
      ``create()`` instead, a documented copy), absolute/external add
      paths, multi-part / v2 checkpoints, and a file whose footer is
      missing a mapped physical column (a heterogeneous-schema log
      needs the copy path too).

    Crash-safe: files link under deterministic content-addressed
    names BEFORE the single manifest commit publishes, so a re-run
    after a crash re-derives the same names and ``_link_in`` skips
    the existing links — no orphans, no duplicate bytes.
    :func:`sync_import` extends the table incrementally afterwards
    (the pull twin of :func:`sync_delta`).

    Returns ``{"files", "rows", "delta_version"}``."""
    version, protocol, metadata, live = _fold_state(src)
    if metadata is None or protocol is None:
        raise ValueError(f"no metaData/protocol action in {src!r}")
    reader = int(protocol.get("minReaderVersion", 1))
    config = metadata.get("configuration") or {}
    mode = config.get("delta.columnMapping.mode", "none") or "none"
    if reader > 2:
        raise ValueError(
            f"import refused: minReaderVersion {reader} — reader-3+ "
            "features (deletion vectors, v2 checkpoints) cannot be "
            "represented losslessly by a file-link import"
        )
    if reader == 2 and mode != "name":
        raise ValueError(
            f"import refused: reader 2 with columnMapping mode "
            f"{mode!r} — only NAME mode maps onto this format's "
            "column_map (ID mode binds by parquet field ids)"
        )
    if metadata.get("partitionColumns"):
        raise ValueError(
            "import refused: Delta partition columns keep their "
            "values OUTSIDE the data files (directory convention); "
            "linking the files would lose those columns — read the "
            "Delta table and create() the SnapshotTable from the "
            "DataFrame instead (a documented copy, not a link)"
        )
    for add in live.values():
        if add.get("deletionVector"):
            raise ValueError(
                "import refused: an add action carries a deletion "
                "vector — importing the file without it would "
                "resurrect soft-deleted rows"
            )

    # column mapping: {logical: physical} pairs from the schemaString
    # field metadata (identity pairs elided — the table convention is
    # an EMPTY map until the first rename)
    schema = json.loads(metadata["schemaString"])
    column_map: dict[str, str] = {}
    mapped_physical: list[str] = []
    for f in schema["fields"]:
        md = f.get("metadata") or {}
        phys = md.get("delta.columnMapping.physicalName", f["name"])
        mapped_physical.append(phys)
        if phys != f["name"]:
            column_map[f["name"]] = phys

    t = SnapshotTable(spark, table_path)
    if t._versions():
        raise FileExistsError(f"table already exists at {table_path}")

    # validate + link: every add path must resolve inside src, every
    # mapped physical column must exist in every file's footer, and
    # physical columns NOT in the schemaString become dropped_cols
    rels: list[str] = []
    extras: set[str] = set()
    rows = 0
    for p in sorted(live):
        rel, nrows, extra = _import_one(
            src, p, table_path, mapped_physical
        )
        rels.append(rel)
        rows += nrows
        extras |= extra
    if not rels:
        raise ValueError(
            "import refused: the Delta head holds no live files — "
            "an empty table carries no schema in this format; "
            "create() the table directly instead"
        )
    # table metadata BEFORE the commit: _commit records column_map /
    # dropped_cols into the manifest it publishes
    t.column_map = dict(column_map)
    t.dropped_cols = sorted(extras)
    snap = t._commit(
        "create",
        0,
        rels,
        replace_all=True,
        txn={"app_id": _IMPORT_APP_ID, "batch_id": version},
    )
    _save_import_state(
        table_path,
        {"src": os.path.realpath(src), "delta_version": version},
    )
    return {
        "files": len(rels),
        "rows": rows,
        "delta_version": version,
        "table_version": snap.version,
    }


#: txn app_id for import commits: each Delta version applies as ONE
#: table commit stamped (app_id, batch_id=delta version), so the
#: table's own replay detector (last_committed_batch — the streaming
#: sink's exactly-once machinery) makes a re-applied version a no-op
#: after any crash between a commit and the sidecar update.
_IMPORT_APP_ID = "delta_import"
#: sidecar at the TABLE root recording which Delta table this import
#: mirrors (splice guard) and the last applied delta version (fast
#: cursor; the txn stamp is the committed truth it reconciles to).
_IMPORT_STATE_FILE = "_spark_graft_import.json"


def _import_relname(delta_rel: str) -> str:
    """Deterministic, content-addressed table-relative name for a
    Delta file: re-running a crashed import/sync re-derives the same
    name, ``_link_in`` skips the existing link, and a ``remove``
    action later resolves to the same path with no stored mapping."""
    digest = hashlib.sha1(delta_rel.encode()).hexdigest()[:12]
    return os.path.join(
        _DATA_DIR,
        "imported",
        f"{digest}_{os.path.basename(delta_rel)}",
    )


def _import_one(
    src: str,
    quoted_path: str,
    table_path: str,
    mapped_physical: list[str],
) -> tuple[str, int, set[str]]:
    """Validate one Delta ``add`` and hard-link it into the table:
    (table-relative name, row count, extra physical columns)."""
    import pyarrow.parquet as pq

    rel_src = unquote(quoted_path)
    if os.path.isabs(rel_src) or rel_src.startswith(("..", "file:")):
        raise ValueError(
            f"import refused: add path {rel_src!r} points outside "
            "the Delta table root"
        )
    src_abs = os.path.join(src, rel_src)
    if not os.path.exists(src_abs):
        raise FileNotFoundError(
            f"import needs {src_abs} but it is gone (Delta-side "
            "VACUUM removed a live file? the log and the data "
            "directory disagree)"
        )
    fmeta = pq.ParquetFile(src_abs)
    names = set(fmeta.schema_arrow.names)
    missing = [c for c in mapped_physical if c not in names]
    if missing:
        raise ValueError(
            f"import refused: {rel_src!r} is missing mapped "
            f"column(s) {missing} — a heterogeneous-schema log "
            "needs the read-and-create copy path"
        )
    rel = _import_relname(rel_src)
    _link_in(src_abs, os.path.join(table_path, rel))
    return rel, fmeta.metadata.num_rows, names - set(mapped_physical)


def _save_import_state(table_path: str, state: dict) -> None:
    tmp = os.path.join(
        table_path, f"{_IMPORT_STATE_FILE}.{uuid.uuid4().hex}.tmp"
    )
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, os.path.join(table_path, _IMPORT_STATE_FILE))


def sync_import(spark, src: str, table_path: str) -> dict:
    """Pull the Delta commits written at ``src`` SINCE the import (or
    the last sync) into the imported table — one table commit per
    Delta commit, so the bridge is incremental in BOTH directions
    (:func:`sync_delta` pushes this format's history out; this pulls
    Delta history in). O(commit delta) metadata + hard links per
    version, no data movement.

    Exactly-once: each applied version commits with a ``txn`` stamp
    ``(delta_import, delta_version)``, so the table's own replay
    detector absorbs a crash between a commit and the sidecar update —
    the re-applied version no-ops, exactly like a replayed streaming
    micro-batch. The cursor is ``max(sidecar, committed stamp)``.

    Per-commit mapping: adds validate + hard-link under the
    content-addressed import name; removes resolve to the same name
    and must reference a live file. A commit whose actions all carry
    ``dataChange: false`` (Delta OPTIMIZE) applies with operation
    ``compact`` so this table's change feed skips it as layout-only —
    the same semantic the export's ``dataChange`` stamping preserves
    in the other direction.

    Refusals (whole pending range pre-validates before anything
    lands): a ``metaData`` or ``protocol`` action mid-range (schema /
    feature change — re-import fresh), adds carrying deletion
    vectors, a JSON gap (the Delta side expired commits past our
    cursor into a checkpoint — the per-commit history is gone;
    re-import fresh), a remove naming a file this table never
    imported, and a different ``src`` than the sidecar records."""
    sp = os.path.join(table_path, _IMPORT_STATE_FILE)
    try:
        with open(sp) as fh:
            state = json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no import sidecar ({_IMPORT_STATE_FILE}) under "
            f"{table_path!r} — sync_import only extends a table "
            "created by import_delta"
        ) from None
    if os.path.realpath(src) != state["src"]:
        raise ValueError(
            f"sync_import refused: this table mirrors {state['src']!r}, "
            f"not {os.path.realpath(src)!r} — syncing another Delta "
            "table would splice two histories"
        )
    t = SnapshotTable(spark, table_path)
    committed = t.last_committed_batch(_IMPORT_APP_ID)
    cursor = max(
        state["delta_version"],
        committed if committed is not None else -1,
    )
    logdir = os.path.join(src, _LOG_DIR)
    disk_v = _disk_version(logdir)
    if disk_v <= cursor:
        return {
            "synced_versions": 0,
            "delta_version": cursor,
            "table_version": t.snapshot().version,
        }
    # need the ORIGINAL logical schema's physical names for per-file
    # validation — recover them from the table's own metadata (the
    # import recorded mapping pairs in column_map; unmapped fields are
    # identity), via the current logical read schema
    mapped_physical = [
        t.column_map.get(c, c) for c in t.read().columns
    ]
    # whole-range pre-validation (running membership set: table's
    # current files + adds seen earlier in the range — O(range), not
    # a per-version rebuild)
    known = set(t.snapshot().files)
    pending: list[tuple[int, list[dict]]] = []
    for v in range(cursor + 1, disk_v + 1):
        cpath = os.path.join(logdir, f"{v:020d}.json")
        if not os.path.exists(cpath):
            raise FileNotFoundError(
                f"sync_import refused: Delta commit {v} is gone "
                "(expired into a checkpoint past our cursor) — the "
                "per-commit history this sync replays no longer "
                "exists; re-import to a fresh table"
            )
        with open(cpath) as fh:
            acts = [json.loads(line) for line in fh]
        for a in acts:
            if "metaData" in a or "protocol" in a:
                raise ValueError(
                    f"sync_import refused at delta v{v}: a metaData/"
                    "protocol action changes the schema or feature "
                    "set mid-stream — re-import to a fresh table"
                )
            if "add" in a and a["add"].get("deletionVector"):
                raise ValueError(
                    f"sync_import refused at delta v{v}: an add "
                    "carries a deletion vector — importing the file "
                    "without it would resurrect soft-deleted rows"
                )
        for a in acts:
            if "add" in a:
                known.add(_import_relname(unquote(a["add"]["path"])))
            if "remove" in a:
                rel = _import_relname(unquote(a["remove"]["path"]))
                if rel not in known:
                    raise ValueError(
                        f"sync_import refused at delta v{v}: remove "
                        f"names {unquote(a['remove']['path'])!r}, "
                        "which this table never imported"
                    )
        pending.append((v, acts))
    # apply: one stamped table commit per Delta commit
    synced = 0
    for v, acts in pending:
        adds = [a["add"] for a in acts if "add" in a]
        removes = [a["remove"] for a in acts if "remove" in a]
        dc = [x.get("dataChange", True) for x in adds + removes]
        rels: list[str] = []
        for add in adds:
            rel, _nrows, extra = _import_one(
                src, add["path"], table_path, mapped_physical
            )
            if extra - set(t.dropped_cols):
                raise ValueError(
                    f"sync_import refused at delta v{v}: file "
                    f"{unquote(add['path'])!r} carries new columns "
                    f"{sorted(extra - set(t.dropped_cols))} absent "
                    "from the imported schema — re-import fresh"
                )
            rels.append(rel)
        rm = frozenset(
            _import_relname(unquote(x["path"])) for x in removes
        )
        op = (
            "compact"
            if dc and not any(dc)
            else ("append" if not rm else "import_sync")
        )
        prev = t.snapshot()
        t._commit(
            op,
            prev.version,
            rels,
            remove=rm or None,
            txn={"app_id": _IMPORT_APP_ID, "batch_id": v},
        )
        state["delta_version"] = v
        _save_import_state(table_path, state)
        synced += 1
    return {
        "synced_versions": synced,
        "delta_version": state["delta_version"],
        "table_version": t.snapshot().version,
    }
