"""Driver-gated audits for the STREAMING INGEST tier — the exact and
semantic dedup sinks of :mod:`..streaming.lakehouse_sink`.

The sinks were the last pytest-only surfaces: their behavior spans a
running Structured Streaming query (file source -> ``foreachBatch`` ->
txn-stamped lakehouse commits), which the ``queries_index`` audit
pattern extends to cover: each query here materializes a DETERMINISTIC
arrival sequence as one parquet file per micro-batch (mtimes staggered
so the file source delivers them in order, ``maxFilesPerTrigger=1``),
runs the REAL sink with ``availableNow`` into a throwaway temp dir —
real checkpoint, real foreachBatch, real create/append commits — then
emits per-version relational facts from time-travel reads. The DuckDB
oracle recomputes every drop decision straight from the raw parquet
(first-occurrence text rule for the exact sink; centroid bootstrap +
cell probe + rounded-cosine threshold for the semantic sink), so a bug
in batch ordering, txn idempotency, the dedup anti-joins, the probe, or
the index extension hash-mismatches.

The arrival sequences are built to exercise every drop path:
- WITHIN-batch duplicates (re-id'd copies whose original is in the same
  batch) must collapse to the min-id survivor;
- REDELIVERED rows (same id, same content — the at-least-once upstream)
  must not re-land;
- corpus duplicates under a NEW id (exact: same text re-id'd; semantic:
  an identical vector re-id'd, cosine 1.0) must drop against the
  standing table;
- genuinely fresh rows (all sf0.01 texts are distinct; max natural
  embedding cosine is ~0.51, well under the 0.8 gate threshold) must
  land, and BLEND vectors (v[p] + v[p+1], cosine vs parents straddling
  the threshold) must fall exactly where the rounded-cosine rule puts
  them — whichever side that is, engine and oracle agree or the hash
  breaks.

Each is registered with ``queries.audit``, which owns the temp dir and
pins the result. Reference analog: the T1/T3 continuous ingest
path (``code/ingest/snowpipe_streaming/snowflake_sink_connector.json:15-20``,
``docker-compose.yml``), upgraded with dedup-on-ingest semantics.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import _t, audit

#: semantic-dedup gate threshold: natural sf0.01 embedding pairs top out
#: near cosine 0.51, constructed copies sit at 1.0, and parent blends
#: span 0.61-0.74 — at 0.70 the blends split ~half drop / ~half land,
#: so the rounded-cosine threshold rule is exercised on BOTH sides of
#: the line (not just the trivial 1.0 and 0.5 extremes).
_SEM_TAU = 0.7


def _write_batch_files(
    batches: list[DataFrame], src_dir: str, start_at: int = 0
) -> None:
    """Materialize each batch as ONE parquet file with strictly
    ascending mtimes, so the file stream source (which orders unseen
    files by modification time) delivers exactly one arrival batch per
    micro-batch, in sequence. ``start_at`` numbers late arrivals
    appended to an existing source dir (their mtimes sort after the
    originals)."""
    base = int(time.time()) - 3600
    for j, df in enumerate(batches):
        i = start_at + j
        stage = os.path.join(src_dir, f"_stage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dest = os.path.join(src_dir, f"b{i}.parquet")
        shutil.move(part, dest)
        shutil.rmtree(stage, ignore_errors=True)
        os.utime(dest, (base + i * 10, base + i * 10))


def _drain(query_handle) -> None:
    query_handle.awaitTermination(600)


class _small_shuffle:
    """Temporarily lower ``spark.sql.shuffle.partitions`` for the audit
    stream's lifetime. AQE partition coalescing is DISABLED inside
    Structured Streaming, so every shuffle in a foreachBatch plan runs
    at the session's full width — 32 near-empty tasks per stage for
    micro-batches of a few hundred rows, and the audits are pure stage-
    scheduling overhead (measured: the near-dup audit 54s -> ~30s at
    8 partitions, bit-identical results — all shuffles here are
    hash-partitioned aggregates/joins whose output is partition-count
    independent). Restores the previous value even on failure; the
    driver runs gate queries sequentially, so the temporary session
    tweak cannot leak into a concurrently-planned query."""

    def __init__(self, spark: SparkSession, n: int = 8):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


def _exact_audit_oracle() -> str:
    """Landed set = first (batch, doc_id) occurrence per text across
    the arrival sequence — exactly the sink's rule (within-batch min-id
    survivor per content hash, then anti-join against all earlier
    landings). Per-version aggregates are the cumulative landings."""
    arr = """
arr AS (
    SELECT doc_id, text, n_chars, b
    FROM documents, (VALUES (0), (1), (2)) v(b)
    WHERE (b = 0 AND doc_id % 4 IN (0, 1))
       OR (b = 1 AND doc_id % 4 IN (1, 2))
       OR (b = 2 AND doc_id % 4 IN (2, 3))
    UNION ALL  -- within-batch ghosts: re-id'd copies of in-batch rows
    SELECT doc_id + 100000, text, n_chars, 0 FROM documents
    WHERE doc_id % 4 IN (0, 1) AND doc_id % 11 = 0
    UNION ALL
    SELECT doc_id + 100000, text, n_chars, 1 FROM documents
    WHERE doc_id % 4 = 2 AND doc_id % 11 = 0
    UNION ALL  -- corpus ghosts: new id, text landed two batches ago
    SELECT doc_id + 100000, text, n_chars, 2 FROM documents
    WHERE doc_id % 4 = 0 AND doc_id % 11 = 0
),
landed AS (
    SELECT doc_id, n_chars, b,
           row_number() OVER (PARTITION BY text ORDER BY b, doc_id) AS rk
    FROM arr
)"""
    parts = [
        f"""
    SELECT {v} AS version, {v - 1} AS batch_id,
           count(*)::BIGINT AS n_rows,
           sum(doc_id)::BIGINT AS sum_doc_id,
           sum(n_chars)::BIGINT AS sum_n_chars
    FROM landed WHERE rk = 1 AND b < {v}"""
        for v in (1, 2, 3)
    ]
    return "WITH " + arr + " UNION ALL ".join(parts)


def _exact_arrival_batches(docs: DataFrame) -> list[DataFrame]:
    """The exact-audit arrival sequence (shared with the resume audit,
    whose oracle is identical — restarts must not change the landed
    set): overlapping residue batches + re-id'd ghosts per batch."""
    res = F.col("doc_id") % 4
    ghost = lambda df: df.filter(F.col("doc_id") % 11 == 0).withColumn(  # noqa: E731
        "doc_id", F.col("doc_id") + 100000
    )
    b0 = docs.filter(res.isin(0, 1))
    return [
        b0.unionByName(ghost(b0)),
        docs.filter(res.isin(1, 2)).unionByName(ghost(docs.filter(res == 2))),
        docs.filter(res.isin(2, 3)).unionByName(ghost(docs.filter(res == 0))),
    ]


def _exact_version_rows(table) -> DataFrame:
    """(version, batch_id, n_rows, sum_doc_id, sum_n_chars) per
    committed version, batch id from the txn stamp."""
    out = None
    for snap in table.history():
        r = table.read(version=snap.version).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.sum("n_chars").alias("sum_n_chars"),
        ).select(
            F.lit(snap.version).alias("version"),
            F.lit(snap.txn["batch_id"]).alias("batch_id"),
            "n_rows",
            "sum_doc_id",
            "sum_n_chars",
        )
        out = r if out is None else out.unionByName(r)
    return out


@audit("streaming_ingest_exact_audit", oracle=_exact_audit_oracle())
def streaming_ingest_exact_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """The exact-dedup streaming ingest sink under the driver gate: a
    real ``availableNow`` run of :func:`..streaming.lakehouse_sink.
    dedup_ingest_stream` over three file-source micro-batches with
    overlapping arrivals (redeliveries), within-batch re-id'd copies,
    and corpus-duplicate texts under fresh ids. One row per committed
    table version, aggregated from a time-travel read, with the batch
    id from the version's txn stamp — so micro-batch ordering, the
    md5 anti-join geometry, within-batch survivor choice, commit
    atomicity, and txn bookkeeping all gate on exact integers.

    Scale: per-batch work is batch-sized (the corpus side of the dedup
    anti-join is one scan pruned by a broadcast semi-join — never
    shuffled); the audit's corpus is documents-sized and the result is
    three rows.
    """
    from ..sources.lakehouse import SnapshotTable
    from ..streaming.lakehouse_sink import dedup_ingest_stream

    docs = _t(spark, sf_dir, "documents")
    batches = _exact_arrival_batches(docs)
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    _write_batch_files(batches, src)
    table = SnapshotTable(spark, os.path.join(tmp, "corpus"))
    with _small_shuffle(spark):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        _drain(
            dedup_ingest_stream(
                stream, table, "gate_audit", os.path.join(tmp, "ckpt")
            )
        )
    return _exact_version_rows(table)


@audit("streaming_ingest_resume_audit", oracle=_exact_audit_oracle())
def streaming_ingest_resume_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """Checkpoint RESUME under the driver gate — the restart property
    the other audits don't reach: the SAME arrival sequence as
    ``streaming_ingest_exact_audit`` (hence the identical oracle — a
    restart must not change the landed set), but the stream is run
    THREE times against one checkpoint: first with only batches 0-1
    present (drains, stops), then after batch 2's file appears (the
    resumed query must process ONLY the unseen file, continue the batch
    numbering at 2, and not re-land batches 0-1), then once more with
    nothing new (a pure-replay restart must commit nothing — a fourth
    version would break the row-count/hash match). Gates the file
    source's checkpointed progress tracking, batch-id continuity across
    restarts, and txn idempotency on the resume path.

    Scale: restart cost is checkpoint-metadata-sized; no corpus work
    repeats on resume — exactly the property that matters when the
    corpus is 100 TB and the stream restarts daily.
    """
    from ..sources.lakehouse import SnapshotTable
    from ..streaming.lakehouse_sink import dedup_ingest_stream

    docs = _t(spark, sf_dir, "documents")
    batches = _exact_arrival_batches(docs)
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    table = SnapshotTable(spark, os.path.join(tmp, "corpus"))
    ckpt = os.path.join(tmp, "ckpt")

    def run_once():
        with _small_shuffle(spark):
            stream = (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            _drain(
                dedup_ingest_stream(stream, table, "gate_audit", ckpt)
            )

    _write_batch_files(batches[:2], src)
    run_once()                      # drains batches 0-1, stops
    _write_batch_files(batches, src)  # batch 2 appears (0-1 rewritten
    # in place with identical content; the source tracks them as seen)
    run_once()                      # resume: processes ONLY batch 2
    run_once()                      # pure replay: must commit nothing
    return _exact_version_rows(table)


#: quality gate for the near-dup audit: every natural sf document is
#: >= 47 chars, constructed junk rows and the shortest half-doc ghosts
#: fall under — so the pre-dedup rejection path executes on real rows.
_QUALITY_MIN_CHARS = 30


def _neardup_audit_oracle() -> str:
    """Full replay of the near-dup ingest lifecycle: arrivals
    (originals by ``doc_id % 4`` with half-doc ghosts and junk rows),
    the length quality gate, within-batch exact dedup (min-id per
    text), the banded-MinHash probe against signatures of all EARLIER
    landings (est jaccard >= 0.5 drops — the half-doc ghosts straddle
    that line), cumulative per-version aggregates, and the per-batch
    metrics rows."""
    # queries_index._SIG_CTE signs the raw documents table; signatures
    # here must cover CONSTRUCTED texts too, so the same portable-hash
    # chain is rebuilt over the arrival CTE.
    from .queries_ml import _DUCK_HASH

    head = f"""
WITH arr AS (
    SELECT doc_id AS aid, text, n_chars,
           CASE WHEN doc_id % 4 IN (0, 1) THEN 0
                WHEN doc_id % 4 = 2 THEN 1 ELSE 2 END AS b
    FROM documents
    UNION ALL  -- half-doc ghosts of batch-0 docs, arriving in batch 1
    SELECT doc_id + 200000, substr(text, 1, (n_chars // 2)::INT),
           n_chars // 2, 1
    FROM documents WHERE doc_id % 4 = 0 AND doc_id % 11 = 0
    UNION ALL  -- junk rows failing the quality gate, batch 1
    SELECT doc_id + 300000, 'junk ' || doc_id, 10, 1
    FROM documents WHERE doc_id % 4 = 0 AND doc_id % 13 = 0
    UNION ALL  -- half-doc ghosts of batch-1 docs, arriving in batch 2
    SELECT doc_id + 400000, substr(text, 1, (n_chars // 2)::INT),
           n_chars // 2, 2
    FROM documents WHERE doc_id % 4 = 2 AND doc_id % 11 = 0
),
ok AS (SELECT * FROM arr WHERE length(text) >= {_QUALITY_MIN_CHARS}),
fresh AS (  -- within-batch exact tier: min-id survivor per text
    SELECT * FROM (
        SELECT aid, text, n_chars, b,
               row_number() OVER (PARTITION BY b, text ORDER BY aid) AS rk
        FROM ok
    ) WHERE rk = 1
),
sh AS (
    SELECT aid, b,
           unnest(list_distinct([array_to_string(w[i:i+2], ' ')
                                 for i in range(1, len(w) - 1)])) AS shingle
    FROM (SELECT aid, b, string_split(text, ' ') AS w FROM fresh)
),
sig AS (
    SELECT aid, b, seed,
           min(((seed * 2 + 3) * ({_DUCK_HASH.format(x="shingle")} % 2147483648)
                + seed * 12582917) % 2305843009213693951) AS minhash
    FROM sh CROSS JOIN (SELECT unnest(range(12)) AS seed)
    GROUP BY aid, b, seed
),
band AS (
    SELECT aid, b, seed // 3 AS band,
           string_agg(minhash::VARCHAR, '-' ORDER BY seed) AS bsig
    FROM sig GROUP BY aid, b, seed // 3
),
est AS (  -- signature-agreement estimate for every band-colliding pair
    SELECT cp.qaid, cp.qb, cp.hb, cp.haid,
           sum((sq.minhash = sh2.minhash)::INT) / 12.0 AS est_j
    FROM (
        SELECT DISTINCT q.aid AS qaid, q.b AS qb, h.aid AS haid, h.b AS hb
        FROM band q JOIN band h ON q.band = h.band AND q.bsig = h.bsig
        WHERE q.b > h.b
    ) cp
    JOIN sig sq ON sq.aid = cp.qaid AND sq.b = cp.qb
    JOIN sig sh2 ON sh2.aid = cp.haid AND sh2.b = cp.hb
                AND sh2.seed = sq.seed
    GROUP BY cp.qaid, cp.qb, cp.haid, cp.hb
),
-- unrolled landing rounds: batch 0 all lands; later batches drop on a
-- >= 0.5 estimate against any EARLIER-LANDED doc
land0 AS (SELECT aid, b FROM fresh WHERE b = 0),
land1 AS (
    SELECT aid, b FROM fresh WHERE b = 1 AND aid NOT IN (
        SELECT e1.qaid FROM est e1 JOIN land0 l ON l.aid = e1.haid AND l.b = e1.hb
        WHERE e1.qb = 1 AND round(e1.est_j, 6) >= 0.5
    )
),
lset1 AS (SELECT * FROM land0 UNION ALL SELECT * FROM land1),
land2 AS (
    SELECT aid, b FROM fresh WHERE b = 2 AND aid NOT IN (
        SELECT e2.qaid FROM est e2 JOIN lset1 l ON l.aid = e2.haid AND l.b = e2.hb
        WHERE e2.qb = 2 AND round(e2.est_j, 6) >= 0.5
    )
),
landed AS (
    SELECT f.aid, f.n_chars, l.lb
    FROM (
        SELECT aid, b, 0 AS lb FROM land0
        UNION ALL SELECT aid, b, 1 FROM land1
        UNION ALL SELECT aid, b, 2 FROM land2
    ) l JOIN fresh f ON f.aid = l.aid AND f.b = l.b
)"""
    parts = []
    for v in (1, 2, 3):
        parts.append(f"""
    SELECT 'docs' AS side, {v} AS version, {v - 1} AS batch_id,
           count(*)::BIGINT AS a, sum(aid)::BIGINT AS b,
           sum(n_chars)::BIGINT AS c, 0::BIGINT AS d
    FROM landed WHERE lb < {v}""")
        parts.append(f"""
    SELECT 'metrics' AS side, 0 AS version, {v - 1} AS batch_id,
           (SELECT count(*) FROM arr WHERE b = {v - 1})::BIGINT AS a,
           (SELECT count(*) FROM arr
            WHERE b = {v - 1} AND length(text) < {_QUALITY_MIN_CHARS})::BIGINT AS b,
           ((SELECT count(*) FROM ok WHERE b = {v - 1})
            - (SELECT count(*) FROM landed WHERE lb = {v - 1}))::BIGINT AS c,
           (SELECT count(*) FROM landed WHERE lb = {v - 1})::BIGINT AS d""")
    return head + " UNION ALL ".join(parts)


@audit("streaming_ingest_neardup_audit", oracle=_neardup_audit_oracle())
def streaming_ingest_neardup_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """The NEAR-dup streaming ingest sink under the driver gate — the
    third of the ingest-tier audits (exact / near / semantic): a real
    ``availableNow`` run of :func:`..streaming.lakehouse_sink.
    near_dedup_ingest_stream` with the quality gate and the metrics
    table BOTH enabled. Arrivals: originals split 0/1 -> batch 0,
    2 -> batch 1, 3 -> batch 2; HALF-DOC ghosts (first n_chars/2 chars
    of an earlier-landed doc, new id) whose banded-MinHash estimate
    against the index straddles the 0.5 threshold — some drop, some
    land, and the oracle re-derives every signature to agree row for
    row; junk rows that must die at the quality gate BEFORE touching
    dedup; and batch-2 ghosts derived from BATCH-1 docs, which can only
    drop if the index was actually extended by batch 1's landing (the
    two-table lockstep under one txn). Emits per-version corpus
    aggregates plus the per-batch metrics rows
    (arrived / quality_rejected / dedup_dropped / landed), all
    recomputed independently by the oracle.

    Scale: the probe is batch-sized banded signatures broadcast into
    the index scan — corpus text is never re-read; metrics cost two
    batch-sized counts per micro-batch.
    """
    from ..sources.lakehouse import SnapshotTable
    from ..streaming.lakehouse_sink import near_dedup_ingest_stream

    docs = _t(spark, sf_dir, "documents")
    res = F.col("doc_id") % 4
    half = F.expr("substring(text, 1, cast(n_chars div 2 as int))")

    def ghosts(src_res: int, id_shift: int):
        return (
            docs.filter((res == src_res) & (F.col("doc_id") % 11 == 0))
            .select(
                (F.col("doc_id") + id_shift).alias("doc_id"),
                half.alias("text"),
                "lang",
                "source",
                (F.col("n_chars") / 2).cast("long").alias("n_chars"),
            )
        )

    junk = docs.filter((res == 0) & (F.col("doc_id") % 13 == 0)).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.lit("junk "), F.col("doc_id")).alias("text"),
        "lang",
        "source",
        F.lit(10).cast("long").alias("n_chars"),
    )
    batches = [
        docs.filter(res.isin(0, 1)),
        docs.filter(res == 2).unionByName(ghosts(0, 200000)).unionByName(junk),
        docs.filter(res == 3).unionByName(ghosts(2, 400000)),
    ]
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    _write_batch_files(batches, src)
    table = SnapshotTable(spark, os.path.join(tmp, "corpus"))
    index = SnapshotTable(spark, os.path.join(tmp, "index"))
    metrics = SnapshotTable(spark, os.path.join(tmp, "metrics"))
    with _small_shuffle(spark):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        _drain(
            near_dedup_ingest_stream(
                stream, table, index, "gate_audit",
                os.path.join(tmp, "ckpt"),
                quality_pred=F.length("text") >= _QUALITY_MIN_CHARS,
                metrics=metrics,
            )
        )
    out = None
    for snap in table.history():
        r = table.read(version=snap.version).agg(
            F.count(F.lit(1)).alias("a"),
            F.sum("doc_id").alias("b"),
            F.sum("n_chars").alias("c"),
        ).select(
            F.lit("docs").alias("side"),
            F.lit(snap.version).alias("version"),
            F.lit(snap.txn["batch_id"]).alias("batch_id"),
            "a",
            "b",
            "c",
            F.lit(0).cast("long").alias("d"),
        )
        out = r if out is None else out.unionByName(r)
    mrows = metrics.read().select(
        F.lit("metrics").alias("side"),
        F.lit(0).alias("version"),
        F.col("batch_id").cast("int").alias("batch_id"),
        F.col("n_arrived").alias("a"),
        F.col("n_quality_rejected").alias("b"),
        F.col("n_dedup_dropped").alias("c"),
        F.col("n_landed").alias("d"),
    )
    out = out.unionByName(mrows)
    return out


def _cdc_merge_oracle() -> str:
    """Last-write-wins state per version of the CDC-merged table:
    version 1 = the created base; each later version applies its
    batch's upserts (matched keys replaced whole-row, new keys
    inserted). Updates are constructed from the raw table, so the
    oracle states each version as CASE expressions over it."""
    money = "round(sum(CAST({x} AS DECIMAL(18,4))), 2)::DOUBLE"
    versions = [
        (1, -1, "c_custkey % 3 = 0", "c_acctbal"),
        (
            2,
            0,
            "c_custkey % 3 IN (0, 1)",
            """CASE WHEN c_custkey % 3 = 0 AND c_custkey % 7 = 0
                    THEN c_acctbal + 1000 ELSE c_acctbal END""",
        ),
        (
            3,
            1,
            "TRUE",
            """CASE WHEN c_custkey % 3 = 0 AND c_custkey % 14 = 0
                    THEN c_acctbal + 3000
                    WHEN c_custkey % 3 = 0 AND c_custkey % 7 = 0
                    THEN c_acctbal + 1000
                    WHEN c_custkey % 3 = 1 AND c_custkey % 7 = 0
                    THEN c_acctbal + 2000
                    ELSE c_acctbal END""",
        ),
    ]
    parts = [
        f"""
    SELECT {v} AS version, {b} AS batch_id,
           count(*)::BIGINT AS n_rows,
           sum(c_custkey)::BIGINT AS sum_key,
           {money.format(x=bal)} AS sum_acctbal
    FROM customer WHERE {pred}"""
        for v, b, pred, bal in versions
    ]
    return " UNION ALL ".join(parts)


@audit("streaming_cdc_merge_audit", oracle=_cdc_merge_oracle())
def streaming_cdc_merge_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """The CDC upsert sink under the driver gate — the fourth streaming
    sink audit (append / exact / near / semantic dedup are gated; this
    gates :func:`..streaming.lakehouse_sink.
    merge_stream_into_snapshot_table`): create the customer table from
    ``c_custkey % 3 = 0``, then stream two upsert micro-batches through
    the real sink — batch 0 inserts the ``% 3 = 1`` keys and updates
    every ``% 3 = 0 AND % 7 = 0`` row (+1000 acctbal), batch 1 inserts
    ``% 3 = 2``, updates ``% 3 = 1 AND % 7 = 0`` (+2000), and
    RE-updates ``% 3 = 0 AND % 14 = 0`` (+3000 over the ORIGINAL —
    overwriting batch 0's earlier update, the last-write-wins contract).
    One row per version from time-travel reads; the oracle states each
    version as CASE expressions over the raw table, with the
    decimal-exact money sum, so matched-key replacement, whole-row
    overwrite (not column patch), insert-vs-update routing, and version
    lineage all gate on exact values.

    Scale: MERGE rewrites only files containing matched keys
    (file-granular COW); per-batch cost is batch-sized against the
    bloom/stats-pruned scan, the Delta CDC-apply shape.
    """
    from ..sources.lakehouse import SnapshotTable
    from ..streaming.lakehouse_sink import merge_stream_into_snapshot_table

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    k = F.col("c_custkey")

    def bump(df: DataFrame, amount: float) -> DataFrame:
        return df.withColumn("c_acctbal", F.col("c_acctbal") + amount)

    batches = [
        cust.filter(k % 3 == 1).unionByName(
            bump(cust.filter((k % 3 == 0) & (k % 7 == 0)), 1000)
        ),
        cust.filter(k % 3 == 2)
        .unionByName(bump(cust.filter((k % 3 == 1) & (k % 7 == 0)), 2000))
        .unionByName(bump(cust.filter((k % 3 == 0) & (k % 14 == 0)), 3000)),
    ]
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    _write_batch_files(batches, src)
    table = SnapshotTable(spark, os.path.join(tmp, "customers"))
    table.create(cust.filter(k % 3 == 0))
    with _small_shuffle(spark):
        stream = (
            spark.readStream.schema(batches[0].schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        _drain(
            merge_stream_into_snapshot_table(
                stream, table, ["c_custkey"], "gate_audit",
                os.path.join(tmp, "ckpt"),
            )
        )
    from .queries import _money_sum

    out = None
    for snap in table.history():
        r = table.read(version=snap.version).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("c_custkey").alias("sum_key"),
            _money_sum(F.col("c_acctbal")).alias("sum_acctbal"),
        ).select(
            F.lit(snap.version).alias("version"),
            F.lit(
                snap.txn["batch_id"] if snap.txn else -1
            ).alias("batch_id"),
            "n_rows",
            "sum_key",
            "sum_acctbal",
        )
        out = r if out is None else out.unionByName(r)
    return out


def _semantic_audit_oracle() -> str:
    """Full replay of the semantic ingest lifecycle from raw parquet:
    arrival construction (originals by ``vec_id % 3``, re-id'd copies,
    same-id redeliveries, parent blends), centroid bootstrap from the
    first batch's 16 lowest ids, top-2 cell assignment at the probe's
    rounded-cosine granularity, per-batch drop decisions (id guard,
    then max candidate cosine >= tau), and the cumulative landed /
    inverted-file / centroid facts per version."""
    head = f"""
WITH e AS (
    SELECT vec_id, i AS pos, embedding[i]::DOUBLE AS val
    FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
),
arr AS (
    SELECT vec_id AS aid, vec_id % 3 AS b, pos, val FROM e
    UNION ALL  -- re-id'd copies of batch-0 vectors (cosine 1.0 -> drop)
    SELECT vec_id + 1000, 1, pos, val FROM e
    WHERE vec_id % 3 = 0 AND vec_id < 30
    UNION ALL  -- same-id redeliveries of landed rows (id guard -> drop)
    SELECT vec_id, 1, pos, val FROM e WHERE vec_id % 3 = 0 AND vec_id < 15
    UNION ALL  -- parent blends near the threshold
    SELECT a.vec_id + 2000, 2, a.pos, a.val + bb.val
    FROM e a JOIN e bb ON bb.pos = a.pos AND bb.vec_id = a.vec_id + 1
    WHERE a.vec_id % 3 = 0 AND a.vec_id < 30
),
nrm AS (SELECT aid, b, sqrt(sum(val * val)) AS nrm FROM arr GROUP BY aid, b),
cents AS (SELECT aid AS cid FROM nrm WHERE b = 0 ORDER BY aid LIMIT 16),
cvec AS (
    SELECT a.aid AS cid, a.pos, a.val FROM arr a
    JOIN cents c ON c.cid = a.aid WHERE a.b = 0
),
cnrm AS (SELECT cid, sqrt(sum(val * val)) AS nrm FROM cvec GROUP BY cid),
cdot AS (
    SELECT q.aid, q.b, c.cid, sum(q.val * c.val) AS dot
    FROM arr q JOIN cvec c ON c.pos = q.pos
    GROUP BY q.aid, q.b, c.cid
),
assign AS (
    SELECT d.aid, d.b, d.cid, row_number() OVER (
        PARTITION BY d.aid, d.b
        ORDER BY round(d.dot / (n1.nrm * n2.nrm), 4) DESC, d.cid
    ) AS rnk
    FROM cdot d
    JOIN nrm n1 ON n1.aid = d.aid AND n1.b = d.b
    JOIN cnrm n2 ON n2.cid = d.cid
),
land0 AS (SELECT DISTINCT aid, 0 AS b FROM arr WHERE b = 0),
q1 AS (
    SELECT DISTINCT aid, 1 AS b FROM arr WHERE b = 1
    AND aid NOT IN (SELECT aid FROM land0)
),
cos1 AS (
    SELECT ca.qid, max(round(d.dot / (nq.nrm * nh.nrm), 4)) AS mx
    FROM (
        SELECT DISTINCT q.aid AS qid, h.aid AS hid, h.b AS hb
        FROM q1 JOIN assign q ON q.aid = q1.aid AND q.b = 1 AND q.rnk <= 2
        JOIN assign h ON h.cid = q.cid AND h.rnk <= 2
        JOIN land0 ON land0.aid = h.aid AND land0.b = h.b
        WHERE h.aid <> q.aid
    ) ca
    JOIN (
        SELECT qa.aid AS qid, ha.aid AS hid, ha.b AS hb,
               sum(qa.val * ha.val) AS dot
        FROM arr qa JOIN arr ha ON ha.pos = qa.pos
        WHERE qa.b = 1 GROUP BY qid, hid, hb
    ) d ON d.qid = ca.qid AND d.hid = ca.hid AND d.hb = ca.hb
    JOIN nrm nq ON nq.aid = ca.qid AND nq.b = 1
    JOIN nrm nh ON nh.aid = ca.hid AND nh.b = ca.hb
    GROUP BY ca.qid
),
land1 AS (
    SELECT aid, 1 AS b FROM q1
    WHERE aid NOT IN (SELECT qid FROM cos1 WHERE mx >= {_SEM_TAU})
),
lset1 AS (SELECT * FROM land0 UNION ALL SELECT * FROM land1),
q2 AS (
    SELECT DISTINCT aid, 2 AS b FROM arr WHERE b = 2
    AND aid NOT IN (SELECT aid FROM lset1)
),
cos2 AS (
    SELECT ca.qid, max(round(d.dot / (nq.nrm * nh.nrm), 4)) AS mx
    FROM (
        SELECT DISTINCT q.aid AS qid, h.aid AS hid, h.b AS hb
        FROM q2 JOIN assign q ON q.aid = q2.aid AND q.b = 2 AND q.rnk <= 2
        JOIN assign h ON h.cid = q.cid AND h.rnk <= 2
        JOIN lset1 ON lset1.aid = h.aid AND lset1.b = h.b
        WHERE h.aid <> q.aid
    ) ca
    JOIN (
        SELECT qa.aid AS qid, ha.aid AS hid, ha.b AS hb,
               sum(qa.val * ha.val) AS dot
        FROM arr qa JOIN arr ha ON ha.pos = qa.pos
        WHERE qa.b = 2 GROUP BY qid, hid, hb
    ) d ON d.qid = ca.qid AND d.hid = ca.hid AND d.hb = ca.hb
    JOIN nrm nq ON nq.aid = ca.qid AND nq.b = 2
    JOIN nrm nh ON nh.aid = ca.hid AND nh.b = ca.hb
    GROUP BY ca.qid
),
land2 AS (
    SELECT aid, 2 AS b FROM q2
    WHERE aid NOT IN (SELECT qid FROM cos2 WHERE mx >= {_SEM_TAU})
),
landed AS (
    SELECT aid, b, b AS lb FROM land0
    UNION ALL SELECT aid, b, 1 FROM land1
    UNION ALL SELECT aid, b, 2 FROM land2
)"""
    parts = []
    for v in (1, 2, 3):
        parts.append(f"""
    SELECT 'docs' AS side, {v} AS version, {v - 1} AS batch_id,
           count(*)::BIGINT AS n_rows, sum(aid)::BIGINT AS sum_id,
           0::BIGINT AS sum_extra
    FROM landed WHERE lb < {v}""")
        parts.append(f"""
    SELECT 'cells' AS side, {v} AS version, {v - 1} AS batch_id,
           count(*)::BIGINT AS n_rows, sum(l.aid)::BIGINT AS sum_id,
           sum(a.cid)::BIGINT AS sum_extra
    FROM landed l JOIN assign a ON a.aid = l.aid AND a.b = l.b AND a.rnk <= 2
    WHERE l.lb < {v}""")
    parts.append("""
    SELECT 'centroids' AS side, 1 AS version, 0 AS batch_id,
           count(*)::BIGINT AS n_rows, sum(cid)::BIGINT AS sum_id,
           0::BIGINT AS sum_extra
    FROM cents""")
    return head + " UNION ALL ".join(parts)


@audit("streaming_ingest_semantic_audit", oracle=_semantic_audit_oracle())
def streaming_ingest_semantic_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """The SEMANTIC dedup streaming ingest sink under the driver gate:
    a real ``availableNow`` run of :func:`..streaming.lakehouse_sink.
    semantic_dedup_ingest_stream` over three file-source micro-batches —
    originals split by ``vec_id % 3``, plus re-id'd copies (cosine 1.0
    against the index -> must drop), same-id redeliveries (the id guard
    -> must drop without relying on self-match), and parent-blend
    vectors whose cosine against landed parents straddles the 0.8
    threshold (the rounded-cosine rule decides; oracle and engine must
    agree row for row). Emits per-version facts for all three persisted
    tables: the vector table (cumulative landings), the inverted file
    (two cell rows per landed vector — ``sum_extra`` pins the actual
    cell ids, so a frozen-centroid violation or assignment drift
    hash-mismatches), and the bootstrap centroid table (the 16
    LOWEST-ID first-batch survivors — the cold-start contract).

    Scale: each micro-batch probes batch-vs-index (query-side
    assignment against the KB centroid broadcast + 3-int inverted-file
    scan), never batch-vs-corpus; the audit adds only the arrival-file
    materialization.
    """
    from ..sources.lakehouse import SnapshotTable
    from ..streaming.lakehouse_sink import semantic_dedup_ingest_stream

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    m3 = F.col("vec_id") % 3
    b0 = emb.filter(m3 == 0)
    copies = b0.filter(F.col("vec_id") < 30).withColumn(
        "vec_id", F.col("vec_id") + 1000
    )
    redeliver = b0.filter(F.col("vec_id") < 15)
    a, bb = emb.alias("a"), emb.alias("bb")
    blends = (
        a.filter((F.col("a.vec_id") % 3 == 0) & (F.col("a.vec_id") < 30))
        .join(bb, F.col("bb.vec_id") == F.col("a.vec_id") + 1)
        .select(
            (F.col("a.vec_id") + 2000).alias("vec_id"),
            F.zip_with(
                "a.embedding", "bb.embedding", lambda x, y: x + y
            ).alias("embedding"),
        )
    )
    batches = [
        b0,
        emb.filter(m3 == 1).unionByName(copies).unionByName(redeliver),
        emb.filter(m3 == 2).unionByName(blends),
    ]
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    _write_batch_files(batches, src)
    table = SnapshotTable(spark, os.path.join(tmp, "vectors"))
    centroids = SnapshotTable(spark, os.path.join(tmp, "centroids"))
    cells = SnapshotTable(spark, os.path.join(tmp, "cells"))
    with _small_shuffle(spark):
        stream = (
            spark.readStream.schema(b0.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        _drain(
            semantic_dedup_ingest_stream(
                stream, table, centroids, cells, "gate_audit",
                os.path.join(tmp, "ckpt"), min_cos=_SEM_TAU,
            )
        )
    out = None
    for snap in table.history():
        r = table.read(version=snap.version).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("vec_id").alias("sum_id"),
        ).select(
            F.lit("docs").alias("side"),
            F.lit(snap.version).alias("version"),
            F.lit(snap.txn["batch_id"]).alias("batch_id"),
            "n_rows",
            "sum_id",
            F.lit(0).cast("long").alias("sum_extra"),
        )
        out = r if out is None else out.unionByName(r)
    for snap in cells.history():
        r = cells.read(version=snap.version).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("vec_id").alias("sum_id"),
            F.sum("cell").alias("sum_extra"),
        ).select(
            F.lit("cells").alias("side"),
            F.lit(snap.version).alias("version"),
            F.lit(snap.txn["batch_id"]).alias("batch_id"),
            "n_rows",
            "sum_id",
            "sum_extra",
        )
        out = out.unionByName(r)
    cent = centroids.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cent_id").alias("sum_id"),
    ).select(
        F.lit("centroids").alias("side"),
        F.lit(1).alias("version"),
        F.lit(0).alias("batch_id"),
        "n_rows",
        "sum_id",
        F.lit(0).cast("long").alias("sum_extra"),
    )
    out = out.unionByName(cent)
    return out


def _semantic_intra_oracle() -> str:
    """Replay of the semantic ingest lifecycle WITH the within-batch
    SemDeDup pass enabled: batch 0 = originals (vec_id%3==0, cold-start
    intra pass blocked on the batch's own 16 lowest-id rows); batch 1 =
    originals (%3==1) + same-vector twins (+5000: cosine 1.0 against a
    LOWER-id row in the SAME batch -> intra drop) + parent blends
    (+2000: intra cosine straddles tau against the same-batch parent)
    + re-id'd copies of landed batch-0 vectors (+1000: pass intra,
    drop at the INDEX probe — the ordering intra-then-index). Every
    rule (cold-start blocking, frozen-centroid top-2 blocking, lower-id
    keeper, index probe) replayed from raw parquet."""
    tau = _SEM_TAU
    return f"""
WITH e AS (
    SELECT vec_id, i AS pos, embedding[i]::DOUBLE AS val
    FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
),
arr AS (
    SELECT vec_id AS aid, 0 AS b, pos, val FROM e WHERE vec_id % 3 = 0
    UNION ALL
    SELECT vec_id, 1, pos, val FROM e WHERE vec_id % 3 = 1
    UNION ALL  -- same-vector twins: intra-batch cosine 1.0 -> drop
    SELECT vec_id + 5000, 1, pos, val FROM e
    WHERE vec_id % 3 = 1 AND vec_id < 30
    UNION ALL  -- parent blends: intra cosine straddles tau
    SELECT a.vec_id + 2000, 1, a.pos, a.val + bb.val
    FROM e a JOIN e bb ON bb.pos = a.pos AND bb.vec_id = a.vec_id + 1
    WHERE a.vec_id % 3 = 1 AND a.vec_id < 30
    UNION ALL  -- re-id'd copies of batch-0 rows: drop at the INDEX probe
    SELECT vec_id + 1000, 1, pos, val FROM e
    WHERE vec_id % 3 = 0 AND vec_id < 30
),
nrm AS (SELECT aid, b, sqrt(sum(val * val)) AS nrm FROM arr GROUP BY aid, b),
pair AS (  -- all pairwise dots once (audit-scale; engine never does this)
    SELECT qa.aid AS qid, qa.b AS qb, ha.aid AS hid, ha.b AS hb,
           sum(qa.val * ha.val) AS dot
    FROM arr qa JOIN arr ha ON ha.pos = qa.pos
    GROUP BY 1, 2, 3, 4
),
cosv AS (
    SELECT p.qid, p.qb, p.hid, p.hb,
           round(p.dot / (nq.nrm * nh.nrm), 4) AS c
    FROM pair p
    JOIN nrm nq ON nq.aid = p.qid AND nq.b = p.qb
    JOIN nrm nh ON nh.aid = p.hid AND nh.b = p.hb
),
c0 AS (SELECT aid AS cid FROM nrm WHERE b = 0 ORDER BY aid LIMIT 16),
a0 AS (  -- cold-start top-2 blocking of batch 0 vs its own 16 lowest
    SELECT v.qid AS aid, v.hid AS cid, row_number() OVER (
        PARTITION BY v.qid ORDER BY v.c DESC, v.hid) AS rnk
    FROM cosv v JOIN c0 ON c0.cid = v.hid
    WHERE v.qb = 0 AND v.hb = 0
),
drop0 AS (
    SELECT DISTINCT qa.aid AS qid
    FROM a0 qa JOIN a0 ha ON ha.cid = qa.cid
    JOIN cosv v ON v.qid = qa.aid AND v.qb = 0
              AND v.hid = ha.aid AND v.hb = 0
    WHERE qa.rnk <= 2 AND ha.rnk <= 2 AND ha.aid < qa.aid AND v.c >= {tau}
),
land0 AS (
    SELECT aid FROM (SELECT DISTINCT aid FROM arr WHERE b = 0)
    WHERE aid NOT IN (SELECT qid FROM drop0)
),
boot AS (SELECT aid AS cid FROM land0 ORDER BY aid LIMIT 16),
ab AS (  -- every row's top-2 cells vs the FROZEN bootstrap centroids
    SELECT v.qid AS aid, v.qb AS b, v.hid AS cid, row_number() OVER (
        PARTITION BY v.qid, v.qb ORDER BY v.c DESC, v.hid) AS rnk
    FROM cosv v JOIN boot ON boot.cid = v.hid
    WHERE v.hb = 0
),
q1 AS (  -- id guard
    SELECT DISTINCT aid FROM arr WHERE b = 1
    AND aid NOT IN (SELECT aid FROM land0)
),
drop1 AS (  -- within-batch pass: lower-id same-cell row over tau
    SELECT DISTINCT qa.aid AS qid
    FROM ab qa JOIN ab ha ON ha.cid = qa.cid AND ha.b = 1
    JOIN cosv v ON v.qid = qa.aid AND v.qb = 1
              AND v.hid = ha.aid AND v.hb = 1
    WHERE qa.b = 1 AND qa.rnk <= 2 AND ha.rnk <= 2
      AND qa.aid IN (SELECT aid FROM q1) AND ha.aid IN (SELECT aid FROM q1)
      AND ha.aid < qa.aid AND v.c >= {tau}
),
q1b AS (SELECT aid FROM q1 WHERE aid NOT IN (SELECT qid FROM drop1)),
dropi AS (  -- index probe vs the landed batch-0 corpus
    SELECT DISTINCT q.aid AS qid
    FROM ab q JOIN ab h ON h.cid = q.cid AND h.b = 0 AND h.rnk <= 2
    JOIN cosv v ON v.qid = q.aid AND v.qb = 1 AND v.hid = h.aid AND v.hb = 0
    WHERE q.b = 1 AND q.rnk <= 2
      AND q.aid IN (SELECT aid FROM q1b)
      AND h.aid IN (SELECT aid FROM land0)
      AND h.aid <> q.aid AND v.c >= {tau}
),
land1 AS (SELECT aid FROM q1b WHERE aid NOT IN (SELECT qid FROM dropi)),
landed AS (
    SELECT aid, 0 AS b, 0 AS lb FROM land0
    UNION ALL SELECT aid, 1, 1 FROM land1
)
    SELECT 'docs' AS side, 1 AS version, 0 AS batch_id,
           count(*)::BIGINT AS n_rows, sum(aid)::BIGINT AS sum_id,
           0::BIGINT AS sum_extra
    FROM landed WHERE lb < 1
UNION ALL
    SELECT 'docs', 2, 1, count(*)::BIGINT, sum(aid)::BIGINT, 0::BIGINT
    FROM landed
UNION ALL
    SELECT 'cells', 1, 0, count(*)::BIGINT, sum(l.aid)::BIGINT,
           sum(a.cid)::BIGINT
    FROM landed l JOIN ab a ON a.aid = l.aid AND a.b = l.b AND a.rnk <= 2
    WHERE l.lb < 1
UNION ALL
    SELECT 'cells', 2, 1, count(*)::BIGINT, sum(l.aid)::BIGINT,
           sum(a.cid)::BIGINT
    FROM landed l JOIN ab a ON a.aid = l.aid AND a.b = l.b AND a.rnk <= 2
UNION ALL
    SELECT 'centroids', 1, 0, count(*)::BIGINT, sum(cid)::BIGINT, 0::BIGINT
    FROM boot
    """


@audit(
    "streaming_ingest_semantic_intra_audit",
    oracle=_semantic_intra_oracle(),
)
def streaming_ingest_semantic_intra_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """The semantic ingest sink with the INTRA-batch SemDeDup pass
    enabled (``intra_batch=True``) under the driver gate — closing the
    one r8 sink option that was pytest-only. Two real ``availableNow``
    micro-batches: batch 0 = originals (``vec_id % 3 == 0``; the
    cold-start intra pass blocks on the batch's own 16 lowest-id rows —
    the same set the bootstrap then freezes); batch 1 = originals
    (``% 3 == 1``) plus three planted arrival classes that pin the
    pass's ORDER (id guard -> intra-batch -> index probe):

    - same-vector twins (+5000): cosine 1.0 against a LOWER-id row of
      the SAME batch — must die in the intra pass (min-id keeper);
    - parent blends (+2000): intra cosine straddles tau against the
      same-batch parent — the rounded-cosine rule decides each one,
      and the oracle must agree row for row;
    - re-id'd copies of landed batch-0 vectors (+1000): no same-batch
      twin, so they must SURVIVE the intra pass and die at the index
      probe instead.

    Emits the same per-version facts as ``streaming_ingest_semantic_
    audit`` (vector table, inverted file with actual cell ids,
    bootstrap centroids); the oracle replays cold-start blocking,
    frozen-centroid top-2 assignment, the lower-id drop rule, and the
    index probe from raw parquet.

    Scale: the intra pass is one cell-blocked batch self-join per
    micro-batch (batch-sized, never corpus); everything else is the
    gated semantic sink unchanged.
    """
    from ..sources.lakehouse import SnapshotTable
    from ..streaming.lakehouse_sink import semantic_dedup_ingest_stream

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    m3 = F.col("vec_id") % 3
    b0 = emb.filter(m3 == 0)
    b1 = emb.filter(m3 == 1)
    twins = b1.filter(F.col("vec_id") < 30).withColumn(
        "vec_id", F.col("vec_id") + 5000
    )
    a, bb = emb.alias("a"), emb.alias("bb")
    blends = (
        a.filter((F.col("a.vec_id") % 3 == 1) & (F.col("a.vec_id") < 30))
        .join(bb, F.col("bb.vec_id") == F.col("a.vec_id") + 1)
        .select(
            (F.col("a.vec_id") + 2000).alias("vec_id"),
            F.zip_with(
                "a.embedding", "bb.embedding", lambda x, y: x + y
            ).alias("embedding"),
        )
    )
    copies = b0.filter(F.col("vec_id") < 30).withColumn(
        "vec_id", F.col("vec_id") + 1000
    )
    batches = [
        b0,
        b1.unionByName(twins).unionByName(blends).unionByName(copies),
    ]
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    _write_batch_files(batches, src)
    table = SnapshotTable(spark, os.path.join(tmp, "vectors"))
    centroids = SnapshotTable(spark, os.path.join(tmp, "centroids"))
    cells = SnapshotTable(spark, os.path.join(tmp, "cells"))
    with _small_shuffle(spark):
        stream = (
            spark.readStream.schema(b0.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        _drain(
            semantic_dedup_ingest_stream(
                stream, table, centroids, cells, "gate_audit",
                os.path.join(tmp, "ckpt"), min_cos=_SEM_TAU,
                intra_batch=True,
            )
        )
    out = None
    for snap in table.history():
        r = table.read(version=snap.version).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("vec_id").alias("sum_id"),
        ).select(
            F.lit("docs").alias("side"),
            F.lit(snap.version).alias("version"),
            F.lit(snap.txn["batch_id"]).alias("batch_id"),
            "n_rows",
            "sum_id",
            F.lit(0).cast("long").alias("sum_extra"),
        )
        out = r if out is None else out.unionByName(r)
    for snap in cells.history():
        r = cells.read(version=snap.version).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("vec_id").alias("sum_id"),
            F.sum("cell").alias("sum_extra"),
        ).select(
            F.lit("cells").alias("side"),
            F.lit(snap.version).alias("version"),
            F.lit(snap.txn["batch_id"]).alias("batch_id"),
            "n_rows",
            "sum_id",
            "sum_extra",
        )
        out = out.unionByName(r)
    cent = centroids.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cent_id").alias("sum_id"),
    ).select(
        F.lit("centroids").alias("side"),
        F.lit(1).alias("version"),
        F.lit(0).alias("batch_id"),
        "n_rows",
        "sum_id",
        F.lit(0).cast("long").alias("sum_extra"),
    )
    out = out.unionByName(cent)
    return out


def _partitioned_fact_oracle() -> str:
    """Per-version facts of the streaming day-partitioned fact table:
    version k holds the first k micro-batches (event_id % 3 < k).
    Probes mirror the engine's pruned reads; the rerun flag pins
    checkpoint idempotency (no fourth version after a second drain of
    the same source)."""
    stats = (
        "count(*)::BIGINT AS n_rows, {meta} AS n_meta, "
        "coalesce(sum(event_id), 0)::BIGINT AS sum_event_id"
    )
    day = "strftime(ts, '%Y-%m-%d')"
    sels = []
    for v in (1, 2, 3):
        base = f"SELECT * FROM events WHERE event_id % 3 < {v}"
        sels.append(
            f"SELECT {v}::BIGINT AS version, 'day_eq' AS probe, "
            + stats.format(meta="count(*)::BIGINT")
            + f" FROM ({base}) WHERE {day} = '2024-01-10'"
        )
        sels.append(
            f"SELECT {v}::BIGINT, 'ts_range', "
            + stats.format(meta="(-1)::BIGINT")
            + f" FROM ({base}) WHERE ts >= TIMESTAMP '2024-01-27 12:00:00'"
        )
    sels.append(
        "SELECT 0::BIGINT, 'rerun_no_reappend', 1::BIGINT, (-1)::BIGINT,"
        " 0::BIGINT"
    )
    return "\nUNION ALL\n".join(sels)


@audit(
    "streaming_partitioned_fact_audit",
    oracle=_partitioned_fact_oracle(),
)
def streaming_partitioned_fact_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """Streaming ingestion INTO the canonical 100 TB fact layout — a
    real ``availableNow`` run of ``write_stream_to_snapshot_table``
    appending three event micro-batches to a ``day(ts)``-partitioned
    table (the reference's TXN_DATE-keyed fact stream landed the way a
    large deployment actually lays it out), then a SECOND drain of the
    same source against the same checkpoint that must re-append
    NOTHING (txn-stamp idempotency on a partitioned table).

    Probes per version, each through partition pruning: an exact
    derived-field day read with the metadata-only ``row_count`` gated
    against the oracle's real count, and a source-column ts-range read
    (conservative rewrite + row filter == exact). Every micro-batch's
    files land partition-aligned THROUGH the transform — a mis-derived
    day, a tuple missing from a streamed batch's manifest, or a replay
    re-append all change the sums.

    Scale: each micro-batch writes only the days it contains; the
    sharded-manifest threshold is forced low so streamed commits
    exercise the 10^6-file checkpoint layout under the gate.
    """
    from ..sources.lakehouse import SnapshotTable
    from ..streaming.lakehouse_sink import write_stream_to_snapshot_table

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    _write_batch_files(batches, src)
    table = SnapshotTable(
        spark, os.path.join(tmp, "fact"), partition_by=["day(ts)"]
    )
    table.shard_checkpoint_files = 8
    with _small_shuffle(spark):
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        _drain(
            write_stream_to_snapshot_table(
                stream, table, "gate_audit", os.path.join(tmp, "ckpt")
            )
        )
        v_after_first = len(table._versions())
        stream2 = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        _drain(
            write_stream_to_snapshot_table(
                stream2, table, "gate_audit", os.path.join(tmp, "ckpt")
            )
        )
    rerun_ok = 1 if len(table._versions()) == v_after_first == 3 else 0

    rng_lit = "2024-01-27 12:00:00"
    out = None
    for v in (1, 2, 3):
        day_where = [("ts_day", "=", "2024-01-10")]
        n_meta = table.row_count(version=v, partition_where=day_where)
        day_r = table.read(version=v, partition_where=day_where).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(F.sum("event_id"), F.lit(0))
            .cast("long")
            .alias("sum_event_id"),
        ).select(
            F.lit(v).cast("long").alias("version"),
            F.lit("day_eq").alias("probe"),
            "n_rows",
            F.lit(n_meta).cast("long").alias("n_meta"),
            "sum_event_id",
        )
        rng_r = (
            table.read(version=v, partition_where=[("ts", ">=", rng_lit)])
            .filter(F.col("ts") >= rng_lit)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(F.sum("event_id"), F.lit(0))
                .cast("long")
                .alias("sum_event_id"),
            )
            .select(
                F.lit(v).cast("long").alias("version"),
                F.lit("ts_range").alias("probe"),
                "n_rows",
                F.lit(-1).cast("long").alias("n_meta"),
                "sum_event_id",
            )
        )
        both = day_r.unionByName(rng_r)
        out = both if out is None else out.unionByName(both)
    flag = spark.createDataFrame(
        [(0, "rerun_no_reappend", rerun_ok, -1, 0)],
        "version long, probe string, n_rows long, n_meta long,"
        " sum_event_id long",
    )
    return out.unionByName(flag)


def _medallion_incremental_oracle() -> str:
    """Silver-rollup state after each refresh of the medallion loop:
    refresh 1 runs after the first stream drain landed batches 0-2
    (event_id % 4 in 0..2; FULL first build), refresh 2 after a late
    file arrived and a second drain landed batch 3 (INCREMENTAL),
    refresh 3 after a GDPR-style row DELETE on bronze (event_id%9==0;
    INCREMENTAL_CDF — the change feed's retractions, r10). Gold =
    the top-3 days of the final silver by decimal-exact value sum.
    Everything restated from raw events."""
    stats = (
        "count(*)::BIGINT AS n_rows, "
        "round(sum(value::DECIMAL(28,9))::DOUBLE, 4) AS sum_value"
    )
    day = "strftime(ts, '%Y-%m-%d')"
    return f"""
    WITH r1 AS (SELECT * FROM events WHERE event_id % 4 < 3),
    r2 AS (SELECT * FROM events),
    r3 AS (SELECT * FROM events WHERE event_id % 9 <> 0)
    SELECT 'silver' AS tier, 1::BIGINT AS refresh, {day} AS day,
           {stats}, 'full' AS mode
    FROM r1 GROUP BY {day}
    UNION ALL
    SELECT 'silver', 2, {day}, {stats}, 'incremental'
    FROM r2 GROUP BY {day}
    UNION ALL
    SELECT 'silver', 3, {day}, {stats}, 'incremental_cdf'
    FROM r3 GROUP BY {day}
    UNION ALL
    SELECT 'gold', 3, day, n_rows, sum_value, 'top3' FROM (
        SELECT {day} AS day, {stats}
        FROM r3 GROUP BY {day}
        ORDER BY sum_value DESC, day LIMIT 3
    )
    """


@audit(
    "medallion_incremental_audit",
    oracle=_medallion_incremental_oracle(),
)
def medallion_incremental_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """The reference's medallion loop END TO END, composed from the
    gated pieces and itself hash-gated: RAW event files stream through
    a real checkpointed ``availableNow`` sink into a
    ``day(ts)``-PARTITIONED bronze table (batches ``event_id % 4`` in
    0..2); SILVER is a per-day rollup brought up to date by the
    manifest-driven incremental refresh (first refresh = FULL build);
    then a LATE file arrives (batch 3), a second drain of the SAME
    checkpoint lands exactly the unseen file, and the second refresh
    must take the INCREMENTAL path — aggregating only the late batch's
    files and rewriting only the touched silver day-partitions; then a
    GDPR-style row DELETE hits bronze (event_id%9==0) and the third
    refresh must take the INCREMENTAL_CDF path (r10): the change
    feed's retractions fold the deleted rows OUT of silver without
    rescanning bronze. GOLD is the top-3 revenue days off the final
    silver. Emits every silver state with the refresh mode it claims
    plus the gold rows; the oracle restates all of it from raw events.

    This is the reference's Ingest -> Raw -> Processed -> Curated loop
    (SURVEY §0) in the 100 TB layout: the fact lands partition-aligned
    by transaction day, nightly silver cost is O(new data), a
    compliance delete costs O(its own footprint), gold reads an
    aggregate table — no stage rescans the corpus.
    """
    from ..operators.rollup import refresh_rollup
    from ..sources.lakehouse import SnapshotTable
    from ..streaming.lakehouse_sink import write_stream_to_snapshot_table

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    m4 = F.col("event_id") % 4
    first = [ev.filter(m4 == i) for i in range(3)]
    late = ev.filter(m4 == 3)

    def prepare(df):
        return df.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.col("value").cast("decimal(28,9)").alias("value"),
        )

    src = os.path.join(tmp, "src")
    os.makedirs(src)
    _write_batch_files(first, src)
    bronze = SnapshotTable(
        spark, os.path.join(tmp, "bronze"), partition_by=["day(ts)"]
    )
    silver = SnapshotTable(
        spark, os.path.join(tmp, "silver"), partition_by=["day"]
    )
    out = None
    with _small_shuffle(spark):
        for refresh_no, arriving, gdpr in (
            (1, None, None),
            (2, late, None),
            (3, None, F.col("event_id") % 9 == 0),
        ):
            if arriving is not None:
                _write_batch_files([arriving], src, start_at=3)
                stream = (
                    spark.readStream.schema(ev.schema)
                    .option("maxFilesPerTrigger", "1")
                    .parquet(src)
                )
                _drain(
                    write_stream_to_snapshot_table(
                        stream, bronze, "medallion",
                        os.path.join(tmp, "ckpt"),
                    )
                )
            elif gdpr is not None:
                bronze.delete(gdpr)
            else:
                stream = (
                    spark.readStream.schema(ev.schema)
                    .option("maxFilesPerTrigger", "1")
                    .parquet(src)
                )
                _drain(
                    write_stream_to_snapshot_table(
                        stream, bronze, "medallion",
                        os.path.join(tmp, "ckpt"),
                    )
                )
            mode = refresh_rollup(
                bronze, silver, prepare, ["day"], ["value"],
                app_id="silver",
            )
            r = silver.read().select(
                F.lit("silver").alias("tier"),
                F.lit(refresh_no).cast("long").alias("refresh"),
                "day",
                "n_rows",
                F.round(F.col("sum_value").cast("double"), 4).alias(
                    "sum_value"
                ),
                F.lit(mode).alias("mode"),
            )
            out = r if out is None else out.unionByName(r)
    gold = (
        silver.read()
        .select(
            F.lit("gold").alias("tier"),
            F.lit(3).cast("long").alias("refresh"),
            "day",
            "n_rows",
            F.round(F.col("sum_value").cast("double"), 4).alias(
                "sum_value"
            ),
            F.lit("top3").alias("mode"),
        )
        .orderBy(F.col("sum_value").desc(), "day")
        .limit(3)
    )
    return out.unionByName(gold)
