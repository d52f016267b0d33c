"""Structured Streaming -> :class:`SnapshotTable` sink with exactly-once
appends (T1/S13 on the lakehouse tier).

Spark's checkpoint gives at-least-once ``foreachBatch`` invocations: after
a restart the last micro-batch REPLAYS with the same ``batch_id``. The
sink turns that into exactly-once the way Delta does — every commit is
stamped with ``{"app_id", "batch_id"}`` (the txn action) and a replayed
batch id is dropped inside the manifest commit's atomic section, so even
a replay racing its original cannot double-append. A replay detected
late (after its data files were written) leaves only orphan files, which
``vacuum`` collects; the table state is never wrong.
"""

from __future__ import annotations

from contextlib import nullcontext

from pyspark.sql import DataFrame

from ..sources.lakehouse import SnapshotTable, _checked_origin, _plan_bounded


def _start(
    stream_df: DataFrame,
    write,
    checkpoint: str,
    processing_time: str | None,
    output_mode: str = "append",
):
    """Start ``stream_df`` through ``write(batch_df, batch_id)`` as a
    ``foreachBatch`` sink: ``processing_time=None`` -> ``availableNow``
    (drain pending, stop), a duration string -> that cadence."""
    writer = (
        stream_df.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if processing_time:
        return writer.trigger(processingTime=processing_time).start()
    return writer.trigger(availableNow=True).start()


def write_stream_to_snapshot_table(
    stream_df: DataFrame,
    table: SnapshotTable,
    app_id: str,
    checkpoint: str,
    processing_time: str | None = None,
    transform=None,
):
    """Start a ``foreachBatch`` writer appending each micro-batch to
    ``table`` idempotently. First batch creates the table if absent.

    ``processing_time=None`` -> ``availableNow`` (drain pending, stop) —
    the scheduled micro-batch cadence (T4); a duration string gives the
    continuous cadence (T1).

    ``transform`` (optional ``DataFrame -> DataFrame``) runs INSIDE the
    micro-batch, after the replay check: batch-only operators (pandas
    UDF extract chains, per-batch joins) stay usable on a streaming
    source without stream-side restrictions, and a replayed batch
    skips the (possibly expensive) transform entirely.

    Checkpoint LOSS (not restart) is a different failure domain from
    the replay the txn stamp armors against, and the stamp makes it
    WORSE if mishandled: a fresh checkpoint restarts batch ids at 0,
    so under the same ``app_id`` every re-delivered batch satisfies
    ``batch_id <= seen`` and is silently dropped — including batches
    carrying genuinely NEW source data regrouped into low ids. Delta's
    ``txnAppId`` has the identical contract. Keep the checkpoint as
    durable as the table; if it is lost, resume under a FRESH app_id
    and deduplicate the re-delivered prefix (content-keyed MERGE, or
    the dedup-ingest sinks which are replay-safe by construction).
    """

    # A micro-batch reaches foreachBatch as a LogicalRDD whose size
    # estimate comes from the stream's plan over that batch's source
    # rows; it bounds the batch only if the stream multiplies no rows.
    bounded = _plan_bounded(stream_df._jdf.queryExecution().analyzed())

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        seen = table.last_committed_batch(app_id)
        if seen is not None and batch_id <= seen:
            return  # checkpoint replay: already durable
        with _checked_origin(batch_df) if bounded else nullcontext():
            if transform is not None:
                batch_df = transform(batch_df)
            txn = {"app_id": app_id, "batch_id": batch_id}
            if not table._versions():
                table.create(batch_df, txn=txn)
            else:
                table.append(batch_df, txn=txn)

    return _start(stream_df, _write, checkpoint, processing_time)


def merge_stream_into_snapshot_table(
    stream_df: DataFrame,
    table: SnapshotTable,
    key_cols: list[str],
    app_id: str,
    checkpoint: str,
    processing_time: str | None = None,
    strategy: str = "cow",
    compact_every: int | None = None,
    vacuum_retain_last: int | None = None,
    matched_update: dict | str | None = None,
    matched_update_cond=None,
    matched_delete_cond=None,
    insert_cond=None,
):
    """Streaming UPSERT (CDC apply): each micro-batch row-level-MERGEs
    into ``table`` by ``key_cols`` — later batches overwrite matching
    keys, new keys insert. Same txn-stamp idempotency as the append
    sink, so checkpoint replays cannot double-apply a batch; within a
    batch the source must be unique per key (pre-aggregate a
    last-write-wins if not). The table must already exist (MERGE needs
    a schema to match against).

    ``strategy="mor"`` upserts via :meth:`SnapshotTable.merge_mor`
    (deletion vectors + append, one JSON commit) instead of
    copy-on-write — the right default once the table is large relative
    to each micro-batch: a 10^4-row CDC batch scattered over 10^4
    files stops rewriting them every trigger. ``compact_every`` adds
    the maintenance cadence that makes MoR sustainable: every N-th
    batch bin-packs micro-batch fragments and PURGES files past 30%
    soft-deleted rows (vectors re-materialize on the OPTIMIZE
    cadence); ``vacuum_retain_last`` opts into reclaiming what
    maintenance orphaned.

    CONDITIONAL CLAUSES (any of ``matched_update`` /
    ``matched_update_cond`` / ``matched_delete_cond`` /
    ``insert_cond``) route each micro-batch through
    :meth:`SnapshotTable.merge_when` instead of the plain upsert —
    the Debezium-style apply in one sink:
    ``matched_delete_cond=F.col("s.deleted")`` +
    ``insert_cond=~F.col("s.deleted")`` applies upserts AND
    tombstones from one stream, exactly-once, under either write
    strategy."""
    if strategy not in ("cow", "mor"):
        raise ValueError(f"unknown merge strategy {strategy!r}")
    conditional = (
        matched_update is not None
        or matched_update_cond is not None
        or matched_delete_cond is not None
        or insert_cond is not None
    )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        seen = table.last_committed_batch(app_id)
        if seen is not None and batch_id <= seen:
            return
        txn = {"app_id": app_id, "batch_id": batch_id}
        if conditional:
            table.merge_when(
                batch_df,
                key_cols,
                matched_update=matched_update,
                matched_update_cond=matched_update_cond,
                matched_delete_cond=matched_delete_cond,
                insert_cond=insert_cond,
                strategy=strategy,
                txn=txn,
            )
        elif strategy == "mor":
            table.merge_mor(batch_df, key_cols, txn=txn)
        else:
            table.merge(batch_df, key_cols, txn=txn)
        _maybe_compact(
            [table],
            batch_id,
            compact_every,
            vacuum_retain_last=vacuum_retain_last,
            dv_fraction=0.3 if strategy == "mor" else None,
        )

    return _start(stream_df, _write, checkpoint, processing_time, "update")


def _maybe_compact(
    tables: list[SnapshotTable],
    batch_id: int,
    compact_every: int | None,
    target_files: int = 8,
    vacuum_retain_last: int | None = None,
    dv_fraction: float | None = None,
) -> None:
    """Periodic small-file maintenance for micro-batch-append sinks:
    every ``compact_every``-th batch, rewrite each table whose live
    file count exceeds ``target_files`` (the OPTIMIZE cadence — N
    appends = N-file fragmentation = N footer reads per later scan).
    Runs AFTER the batch's txn commits, so a crash mid-compaction
    loses only the maintenance (the replay skips the already-durable
    batch and the next trigger compacts a bit more); compaction
    commits carry no txn stamp and are invisible to readers (pinned by
    the compaction-invariance tests and the hash-gated
    ``ivf_index_compaction_audit``)."""
    if compact_every is None or (batch_id + 1) % compact_every != 0:
        return
    for t in tables:
        if t._versions() and len(t.snapshot().files) > target_files:
            # threshold form: only sub-32MB fragments are bin-packed, so
            # the rewrite is proportional to the fragmentation the
            # micro-batches created — never a full-table rewrite on a
            # standing 100 TB corpus. MoR sinks also pass dv_fraction:
            # accumulated deletion vectors purge on the same cadence.
            t.compact(
                target_files,
                small_file_bytes=32 << 20,
                dv_fraction=dv_fraction,
            )
        elif dv_fraction is not None and t._versions() and t.snapshot().dvs:
            # under the file-count bar but carrying vectors: still purge
            t.compact(target_files, dv_fraction=dv_fraction)
        if vacuum_retain_last is not None and t._versions():
            # reclaim the files compaction (and late-detected replays)
            # orphaned. EXPLICIT opt-in: vacuum trades time-travel depth
            # for storage — retain_last bounds how far back readers can
            # still travel, exactly Delta's retention contract
            t.vacuum(retain_last=vacuum_retain_last)


def _dedup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    table: SnapshotTable,
    app_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One micro-batch of the dedup-ingest loop (module-level so tests
    can drive and instrument it directly).

    The dedup plan (within-batch survivors + corpus anti-join) is
    executed EXACTLY ONCE per batch: the survivors are written straight
    to a batch dir, then the commit is decided from the written files'
    parquet footers (a driver-local metadata read) — no ``isEmpty``
    pre-probe, which would run the whole corpus-projection plan a
    second time. An all-duplicate batch commits nothing, and its empty
    batch dir is removed at once (``_write_nonempty``).
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    seen = table.last_committed_batch(app_id)
    if seen is not None and batch_id <= seen:
        return
    h = F.md5(F.col(text_col))
    w = W.partitionBy(h).orderBy(id_col)
    fresh = (
        batch_df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
        .withColumn("_h", h)
    )
    if table._versions():
        corpus_hashes = table.read().select(
            F.md5(F.col(text_col)).alias("_h")
        )
        collisions = corpus_hashes.join(
            F.broadcast(fresh.select("_h").distinct()), "_h"
        ).distinct()
        fresh = fresh.join(F.broadcast(collisions), "_h", "left_anti")
    fresh = fresh.drop("_h")
    txn = {"app_id": app_id, "batch_id": batch_id}
    if not table._versions():
        table.create(fresh, txn=txn)
        return
    prev = table.snapshot()
    files = table._write_nonempty(fresh)  # the ONE execution of the plan
    if not files:
        return  # nothing new: no empty commit
    table._commit("append", prev.version, files, txn=txn)


def dedup_ingest_stream(
    stream_df: DataFrame,
    table: SnapshotTable,
    app_id: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    processing_time: str | None = None,
    compact_every: int | None = None,
    vacuum_retain_last: int | None = None,
):
    """The production corpus-ingestion loop: each micro-batch of
    documents exact-dedups against the standing corpus BEFORE landing —
    the streaming twin of the batch ``dedup_incremental_newbatch``
    shape, fused with the exactly-once lakehouse append.

    Per micro-batch (see :func:`_dedup_ingest_batch`):
    1. within-batch dedup — one survivor (min id) per content md5;
    2. batch-vs-corpus anti-join on content md5, double-broadcast
       form: broadcast the BATCH's hash set against the corpus
       projection to extract the (tiny) colliding-hash set, then
       broadcast-anti-join the batch against that. The corpus is never
       shuffled and never builds a join hash table — its side is one
       scan pruned by a broadcast semi-join, so ingest cost stays
       proportional to the batch at any corpus size. (At 100 TB the
       corpus projection reads a maintained hash-index table instead
       of the full corpus; the join geometry is identical.)
    3. single-execution write + footer-decided txn-stamped commit
       (same replay-idempotency as the plain sink; one corpus scan
       per batch, not two).

    Duplicates separated by more than a restart are still caught —
    unlike watermark-bounded ``dropDuplicatesWithinWatermark``, the
    corpus itself is the state store here.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        _dedup_ingest_batch(
            batch_df, batch_id, table, app_id, id_col, text_col
        )
        _maybe_compact([table], batch_id, compact_every,
                       vacuum_retain_last=vacuum_retain_last)

    return _start(stream_df, _write, checkpoint, processing_time)


def _files_added_by_batch(
    table: SnapshotTable, app_id: str, batch_id: int
) -> list[str] | None:
    """Data files a specific txn-stamped commit added (None if that
    batch never committed) — the replay-repair source: a crash between
    the docs-table commit and the index commit is healed by re-reading
    exactly the rows that batch landed, from manifests alone."""
    versions = table._versions()
    for i, v in enumerate(versions):
        raw = table._raw(v)
        txn = raw.get("txn")
        if txn and txn.get("app_id") == app_id and txn.get("batch_id") == batch_id:
            if "add" in raw:  # delta manifest records its adds directly
                return raw["add"]
            prev = set(table._load(versions[i - 1]).files) if i else set()
            return [f for f in raw["files"] if f not in prev]
    return None


def _record_ingest_metrics(
    metrics: SnapshotTable | None,
    spark,
    txn: dict,
    n_arrived: int | None,
    n_quality_ok: int | None,
    n_landed: int,
) -> None:
    """Append one observability row per micro-batch (idempotent: the
    metrics commit carries the same txn stamp, so a replay that
    re-derives the numbers cannot double-record them)."""
    if metrics is None or n_arrived is None:
        return
    row = spark.createDataFrame(
        [
            (
                txn["batch_id"],
                n_arrived,
                n_arrived - n_quality_ok,
                n_quality_ok - n_landed,
                n_landed,
            )
        ],
        "batch_id long, n_arrived long, n_quality_rejected long, "
        "n_dedup_dropped long, n_landed long",
    )
    if not metrics._versions():
        metrics.create(row, txn=txn)
    else:
        metrics.append(row, txn=txn)


def _near_dedup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    table: SnapshotTable,
    index: SnapshotTable,
    app_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_est_jaccard: float = 0.5,
    num_hashes: int = 12,
    bands: int = 4,
    n: int = 3,
    quality_pred=None,
    metrics: SnapshotTable | None = None,
) -> None:
    """One micro-batch of the NEAR-dup ingest loop: an optional quality
    gate (``quality_pred`` — rows failing it never enter dedup), exact
    within-batch dedup, then a :mod:`..operators.minhash_index` probe
    drops batch documents whose estimated Jaccard against the indexed
    corpus is >= ``min_est_jaccard`` (exact corpus dups fall out too —
    identical text gives estimate 1.0), then the survivors land in
    ``table`` and their signatures extend ``index`` — both commits
    stamped with the same txn, each idempotent on its own table.

    ``metrics`` (optional): per-batch observability rows
    (batch_id, n_arrived, n_quality_rejected, n_dedup_dropped,
    n_landed) appended to their own SnapshotTable under the same txn
    stamp — idempotent across replays; costs two extra batch-sized
    counts per micro-batch, never a corpus pass.

    Two-table consistency: a crash between the docs commit and the
    index commit leaves the index one batch behind; on checkpoint
    replay the docs side short-circuits (already durable) and the index
    side repairs itself from the committed batch's own files
    (:func:`_files_added_by_batch`) — never by re-running the dedup
    plan against the now-already-ingested corpus, which would find
    everything duplicated and repair nothing.

    Granularity note: near-dups WITHIN one micro-batch both land (the
    probe sees only the standing index); the exact tier still collapses
    within-batch identical text. Shrink the trigger interval if
    intra-batch near-dups matter.
    """
    import os

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from ..operators.dedup import minhash_signatures
    from ..operators.minhash_index import probe_minhash_index

    seen_docs = table.last_committed_batch(app_id)
    docs_done = seen_docs is not None and batch_id <= seen_docs
    seen_idx = index.last_committed_batch(app_id)
    idx_done = seen_idx is not None and batch_id <= seen_idx
    if docs_done and idx_done:
        return
    spark = batch_df.sparkSession
    txn = {"app_id": app_id, "batch_id": batch_id}

    if docs_done:
        files = _files_added_by_batch(table, app_id, batch_id)
        if not files:
            return  # the batch committed nothing: index has nothing to learn
        survivors = spark.read.parquet(
            *[os.path.join(table.path, f) for f in files]
        )
    else:
        n_arrived = batch_df.count() if metrics is not None else None
        if quality_pred is not None:
            batch_df = batch_df.filter(quality_pred)
        n_quality_ok = batch_df.count() if metrics is not None else None
        h = F.md5(F.col(text_col))
        w = W.partitionBy(h).orderBy(id_col)
        fresh = (
            batch_df.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk")
        )
        if index._versions():
            hits = probe_minhash_index(
                index, fresh, id_col, text_col, num_hashes, bands, n,
                min_est_jaccard,
            )
            fresh = fresh.join(
                F.broadcast(
                    hits.select(F.col("batch_id").alias(id_col)).distinct()
                ),
                id_col,
                "left_anti",
            )
        if not table._versions():
            files = table.create(fresh, txn=txn).files
        else:
            prev = table.snapshot()
            files = table._write_nonempty(fresh)  # ONE execution of the plan
            if not files:
                _record_ingest_metrics(
                    metrics, spark, txn, n_arrived, n_quality_ok, 0
                )
                return  # all near-dups: no doc commit, no index growth
            table._commit("append", prev.version, files, txn=txn)
        _record_ingest_metrics(
            metrics, spark, txn, n_arrived, n_quality_ok,
            table._rows_in(files),
        )
        survivors = spark.read.parquet(
            *[os.path.join(table.path, f) for f in files]
        )

    sig = minhash_signatures(survivors, id_col, text_col, num_hashes, n)
    if not index._versions():
        index.create(sig, txn=txn)
    else:
        index.append(sig, txn=txn)


def near_dedup_ingest_stream(
    stream_df: DataFrame,
    table: SnapshotTable,
    index: SnapshotTable,
    app_id: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_est_jaccard: float = 0.5,
    processing_time: str | None = None,
    quality_pred=None,
    metrics: SnapshotTable | None = None,
    compact_every: int | None = None,
    vacuum_retain_last: int | None = None,
):
    """Streaming NEAR-dup corpus ingestion: the exact-dedup sink's
    shape (:func:`dedup_ingest_stream`), with the persisted MinHash
    index as the dedup state — each micro-batch is probed against the
    index (batch-sized work: the corpus text is never re-read, the
    index scan is narrow ints), survivors land in the corpus table, and
    the index is extended in the same step. Restart-safe on both
    tables; the index heals from the docs table's own manifests if a
    crash splits the two commits.

    ``quality_pred`` gates rows BEFORE dedup (curation-on-ingest: a
    low-quality near-copy never pollutes the index); ``metrics``
    appends per-batch arrival/rejection/landing counts to its own
    txn-stamped table for pipeline observability.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        _near_dedup_ingest_batch(
            batch_df, batch_id, table, index, app_id, id_col, text_col,
            min_est_jaccard, quality_pred=quality_pred, metrics=metrics,
        )
        _maybe_compact([table, index], batch_id, compact_every,
                       vacuum_retain_last=vacuum_retain_last)

    return _start(stream_df, _write, checkpoint, processing_time)


def _intra_batch_semantic_dedup(
    fresh: DataFrame,
    centroids: SnapshotTable,
    n_cells: int,
    id_col: str,
    vec_col: str,
    min_cos: float,
) -> DataFrame:
    """Within-batch SemDeDup: drop a batch row when any LOWER-id batch
    row in its home cell has rounded cosine >= ``min_cos``. Cell
    assignment uses the standing frozen centroids; on the cold-start
    batch (no centroid table yet) it uses the batch's ``n_cells``
    lowest-id rows — the same set the bootstrap freezes afterwards, so
    the blocking scheme is consistent across the table's life. All
    work is batch-sized: the centroid side is a KB broadcast, the
    pairwise join is blocked per home cell."""
    from pyspark.sql import functions as F

    from ..functions.vector import cosine
    from ..operators.similarity import ivf_assign

    if centroids._versions():
        cents = centroids.read()
    else:
        cents = (
            fresh.orderBy(F.col(id_col))
            .limit(n_cells)
            .select(
                F.col(id_col).alias("cent_id"), F.col(vec_col).alias("centv")
            )
        )
    # block on the TOP-2 cells, not just the home cell: on the
    # cold-start batch the blocking centroids are batch rows, so a
    # near-dup PAIR of them would each rank itself first and land in
    # disjoint home cells — the rank-2 cell reunites them (and
    # post-bootstrap, multi-assignment blocking is the same recall
    # dial the IVF probe itself uses)
    home = (
        ivf_assign(fresh, 0, id_col, vec_col, centroids=cents)
        .filter(F.col("cell_rank") <= 2)
        .select(F.col("id").alias(id_col), F.col("cent_id").alias("_cell"))
    )
    fb = fresh.join(home, id_col)
    a = fb.select(
        F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va"), "_cell"
    )
    b = fb.select(
        F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb"), "_cell"
    )
    drops = (
        a.join(b, "_cell")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(F.round(cosine("_va", "_vb"), 4) >= min_cos)
        .select(F.col("_idb").alias(id_col))
        .distinct()
    )
    return fresh.join(F.broadcast(drops), id_col, "left_anti")


def _semantic_dedup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    table: SnapshotTable,
    centroids: SnapshotTable,
    cells: SnapshotTable,
    app_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cos: float = 0.9,
    n_cells: int = 16,
    n_assign: int = 2,
    n_probe: int = 2,
    quality_pred=None,
    metrics: SnapshotTable | None = None,
    intra_batch: bool = False,
) -> None:
    """One micro-batch of the SEMANTIC dedup ingest loop — SemDeDup
    moved to ingest time, with the persisted IVF index as the dedup
    state: arriving vectors are cell-probed against the standing index
    (:func:`..operators.ivf_index.probe_ivf_index`, top-1 is enough to
    decide), arrivals whose nearest indexed neighbor has cosine >=
    ``min_cos`` are dropped, survivors land in the vector table and
    their inverted-file rows extend ``cells`` — docs and index commits
    share one txn stamp, each idempotent on its own table.

    Centroids BOOTSTRAP from the first committing batch's ``n_cells``
    lowest-id survivors and are FROZEN thereafter (production
    pre-trains via ``build_ivf_index`` and hands the tables in; the
    bootstrap covers cold-start). Frozen centroids are what keep
    appended cell assignments comparable across the index's history.

    Two-table consistency mirrors :func:`_near_dedup_ingest_batch`: a
    crash between the docs commit and the cells commit heals on replay
    from the committed batch's own files — never by re-probing against
    the already-ingested corpus, which would find every healed row
    "duplicated" and repair nothing.

    Granularity: by default semantic near-dups WITHIN one micro-batch
    both land (the probe sees only the standing index). With
    ``intra_batch=True`` a within-batch SemDeDup pass runs first:
    arrivals are home-cell-assigned against the SAME frozen centroids
    (first batch: against the batch's own ``n_cells`` lowest-id rows —
    the set the bootstrap will freeze), and a row is dropped when any
    LOWER-id same-cell batch row has cosine >= ``min_cos`` (greedy
    min-id keeper; the pairwise join is cell-blocked and batch-sized —
    never corpus work). Off by default: it adds one batch self-join
    per micro-batch, and pipelines with upstream per-batch dedup
    shouldn't pay it twice.
    """
    import os

    from pyspark.sql import functions as F

    from ..operators.ivf_index import IvfIndex, extend_ivf_index, probe_ivf_index

    seen_docs = table.last_committed_batch(app_id)
    docs_done = seen_docs is not None and batch_id <= seen_docs
    seen_idx = cells.last_committed_batch(app_id)
    idx_done = seen_idx is not None and batch_id <= seen_idx
    if docs_done and idx_done:
        return
    spark = batch_df.sparkSession
    txn = {"app_id": app_id, "batch_id": batch_id}

    if docs_done:
        files = _files_added_by_batch(table, app_id, batch_id)
        if not files:
            return
        survivors = spark.read.parquet(
            *[os.path.join(table.path, f) for f in files]
        )
    else:
        n_arrived = batch_df.count() if metrics is not None else None
        if quality_pred is not None:
            batch_df = batch_df.filter(quality_pred)
        n_quality_ok = batch_df.count() if metrics is not None else None
        fresh = batch_df.dropDuplicates([id_col])
        if table._versions():
            # id-level anti-join against the standing table: an
            # at-least-once upstream can re-deliver a row whose id is
            # already landed, and the probe's self-exclusion
            # (query_id != neighbor_id) would let it dodge its own
            # match and re-append forever — duplicate ids accumulating
            # in both the vector table and the inverted file. Same
            # double-broadcast geometry as the exact sink: broadcast
            # the batch's id set into the corpus scan to extract the
            # (tiny) colliding ids, then anti-join the batch against
            # those — the corpus side is one pruned scan, never a
            # shuffle or a join hash table.
            seen_ids = (
                table.read()
                .select(F.col(id_col))
                .join(F.broadcast(fresh.select(id_col).distinct()), id_col)
                .distinct()
            )
            fresh = fresh.join(F.broadcast(seen_ids), id_col, "left_anti")
        if intra_batch:
            fresh = _intra_batch_semantic_dedup(
                fresh, centroids, n_cells, id_col, vec_col, min_cos
            )
        if cells._versions():
            idx = IvfIndex(centroids, cells)
            hits = probe_ivf_index(
                idx,
                table.read(),
                fresh,
                k=1,
                n_probe=n_probe,
                id_col=id_col,
                vec_col=vec_col,
            ).filter(F.col("cos_sim") >= min_cos)
            fresh = fresh.join(
                F.broadcast(
                    hits.select(F.col("query_id").alias(id_col)).distinct()
                ),
                id_col,
                "left_anti",
            )
        if not table._versions():
            files = table.create(fresh, txn=txn).files
        else:
            prev = table.snapshot()
            files = table._write_nonempty(fresh)  # ONE execution of the plan
            if not files:
                _record_ingest_metrics(
                    metrics, spark, txn, n_arrived, n_quality_ok, 0
                )
                return  # all semantic dups: no doc commit, no index growth
            table._commit("append", prev.version, files, txn=txn)
        _record_ingest_metrics(
            metrics, spark, txn, n_arrived, n_quality_ok,
            table._rows_in(files),
        )
        survivors = spark.read.parquet(
            *[os.path.join(table.path, f) for f in files]
        )

    if not centroids._versions():
        # cold-start: freeze the first committing batch's ``n_cells``
        # LOWEST-ID survivors as the centroid set — orderBy+limit, NOT
        # filter(id < n_cells): streaming ids are offsets / snowflake
        # ids / hashes that rarely start near 0, and the filter form
        # would freeze an EMPTY centroid table, after which every probe
        # returns nothing and semantic dedup silently no-ops forever.
        # The bounded collect is n_cells x dim doubles (KBs) — the same
        # driver state the centroid table itself is. Deterministic, so
        # a heal-path replay recreates the identical table.
        seed_rows = (
            survivors.orderBy(F.col(id_col))
            .limit(n_cells)
            .select(
                F.col(id_col).alias("cent_id"), F.col(vec_col).alias("centv")
            )
            .collect()
        )
        if not seed_rows:
            # empty first commit: DEFER the bootstrap (and the cells
            # create — an inverted file without centroids is
            # unreadable) to the first batch that actually lands rows
            return
        centroids.create(
            spark.createDataFrame(
                seed_rows, "cent_id long, centv array<double>"
            )
        )
    idx = IvfIndex(centroids, cells)
    if not cells._versions():
        from ..operators.similarity import ivf_assign

        rows = (
            ivf_assign(survivors, 0, id_col, vec_col, centroids=centroids.read())
            .filter(F.col("cell_rank") <= n_assign)
            .select(
                F.col("id").alias("vec_id"),
                F.col("cent_id").alias("cell"),
                "cell_rank",
            )
        )
        cells.create(rows, txn=txn)
    else:
        extend_ivf_index(
            idx, survivors, n_assign=n_assign, id_col=id_col,
            vec_col=vec_col, txn=txn,
        )


def semantic_dedup_ingest_stream(
    stream_df: DataFrame,
    table: SnapshotTable,
    centroids: SnapshotTable,
    cells: SnapshotTable,
    app_id: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cos: float = 0.9,
    processing_time: str | None = None,
    quality_pred=None,
    metrics: SnapshotTable | None = None,
    intra_batch: bool = False,
    compact_every: int | None = None,
    vacuum_retain_last: int | None = None,
):
    """Streaming SEMANTIC dedup ingestion — the embedding-space
    counterpart of :func:`near_dedup_ingest_stream`: micro-batches of
    (id, embedding, ...) rows probe the persisted IVF index (query-only
    assignment against the KB centroid broadcast + the 3-int
    inverted-file scan — the corpus's full vectors move only for
    candidates), arrivals semantically duplicating an indexed vector
    (top-1 cosine >= ``min_cos``) are dropped, survivors land and
    extend the index in the same step. Restart-safe on both tables;
    the index heals from the vector table's own manifests if a crash
    splits the two commits.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        _semantic_dedup_ingest_batch(
            batch_df, batch_id, table, centroids, cells, app_id,
            id_col, vec_col, min_cos,
            quality_pred=quality_pred, metrics=metrics,
            intra_batch=intra_batch,
        )
        _maybe_compact([table, cells], batch_id, compact_every,
                       vacuum_retain_last=vacuum_retain_last)

    return _start(stream_df, _write, checkpoint, processing_time)
