"""Driver-gated audits for the STATEFUL surfaces — persisted MinHash
index, persisted PQ index, and the lakehouse table format itself.

These components (operators/minhash_index.py, operators/pq_index.py,
sources/lakehouse.py) were previously pytest/e2e-only: their behavior
spans build -> commit -> append -> time-travel read, which a single
SQL-shaped query can't express... unless the query RUNS the lifecycle
itself and emits relational facts an independent engine can recompute.
That is the pattern here (the ``media_probe_headers`` trick generalized
from constant payloads to real testdata):

- each query builds a fresh index/table under a throwaway temp
  directory from a DETERMINISTIC modular split of the testdata,
  exercises the real commit/append/probe/time-travel code paths, and
  returns the probe results for EVERY version;
- the DuckDB oracle recomputes what each version's probe must equal
  directly from the parquet tables (the portable-hash MinHash mirror,
  the decimal-exact PQ mirror, plain filtered aggregates for the
  lakehouse) — a true differential: a bug in commit atomicity, manifest
  folding, version resolution, frozen-codebook encoding, or banded
  probe generation breaks the hash.

Each is registered with ``queries.audit``, which owns the temp
directory and pins the result (hundreds of rows). Reference analog: versioned permanent vs transient
table tiers in the reference's medallion layout
(``3B2_load_pdf_to_text.sql:1``, ``1_env_setup.sql:7-14``).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import _t, audit
from .queries_ml import _DUCK_HASH

#: DuckDB mirror of ``operators.dedup.minhash_signatures`` over the
#: documents table (12 seeds, 3-gram shingles), shared by the
#: index-probe oracle. Signatures are per-document, so computing them
#: over the full table and filtering by id afterwards is identical to
#: signing each corpus subset separately.
_SIG_CTE = f"""
sh AS (
    SELECT doc_id AS id,
           unnest(list_distinct([array_to_string(w[i:i+2], ' ')
                                 for i in range(1, len(w) - 1)])) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
sig AS (
    SELECT id, seed,
           min(((seed * 2 + 3) * ({_DUCK_HASH.format(x="shingle")} % 2147483648)
                + seed * 12582917) % 2305843009213693951) AS minhash
    FROM sh CROSS JOIN (SELECT unnest(range(12)) AS seed)
    GROUP BY id, seed
),
band AS (
    SELECT id, seed // 3 AS band,
           string_agg(minhash::VARCHAR, '-' ORDER BY seed) AS bsig
    FROM sig GROUP BY id, seed // 3
)
"""


def _minhash_probe_oracle() -> str:
    """Per index version (v1 = base corpus doc_id%4 IN (0,1); v2 = base
    + appended doc_id%4 = 2), the banded-LSH candidates of the probe
    batch (doc_id%4 = 3) with signature-agreement Jaccard estimates —
    exactly what ``probe_minhash_index`` must return."""
    parts = []
    for version, corpus in ((1, "(0, 1)"), (2, "(0, 1, 2)")):
        parts.append(f"""
    SELECT {version} AS idx_version, batch_id, corpus_id,
           n_match::BIGINT AS n_match,
           round(n_match / 12.0, 6) AS est_jaccard
    FROM (
        SELECT cp.batch_id, cp.corpus_id,
               sum(CASE WHEN sb.minhash = sc.minhash THEN 1 ELSE 0 END)
                   AS n_match
        FROM (
            SELECT DISTINCT b.id AS batch_id, c.id AS corpus_id
            FROM band b JOIN band c
              ON b.band = c.band AND b.bsig = c.bsig
            WHERE b.id % 4 = 3 AND c.id % 4 IN {corpus}
        ) cp
        JOIN sig sb ON sb.id = cp.batch_id
        JOIN sig sc ON sc.id = cp.corpus_id AND sc.seed = sb.seed
        GROUP BY cp.batch_id, cp.corpus_id
    )
    WHERE round(n_match / 12.0, 6) >= 0.5""")
    return f"WITH {_SIG_CTE} " + " UNION ALL ".join(parts)


@audit("minhash_index_probe_audit", oracle=_minhash_probe_oracle())
def minhash_index_probe_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """The persisted-MinHash-index lifecycle under the driver gate:
    build the signature index from the base corpus (doc_id%4 in (0,1)),
    APPEND a second batch (doc_id%4 = 2) under an exactly-once txn
    stamp, then probe the held-out batch (doc_id%4 = 3) against BOTH
    index versions — version 1 is a time-travel read of the pre-append
    index. One hash row gates build/commit/append/version-resolution/
    banded-probe together: the oracle recomputes every candidate and
    estimate straight from the parquet (no index), so a manifest-folding
    or band-construction bug diverges the row set.

    Scale: probe cost is batch-sized (banded batch signatures broadcast
    into the index scan — the corpus side never shuffles, never re-reads
    text); the audit's only extra cost over production is the index
    build, which is the one corpus pass a build always is.
    """
    from ..operators.minhash_index import (
        build_minhash_index,
        extend_minhash_index,
        probe_minhash_index,
    )

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 4 < 2)
    second = docs.filter(F.col("doc_id") % 4 == 2)
    batch = docs.filter(F.col("doc_id") % 4 == 3)
    table = build_minhash_index(spark, base, tmp)
    extend_minhash_index(
        table, second, txn={"app_id": "gate_audit", "batch_id": 1}
    )
    out = None
    for v in (1, 2):
        r = probe_minhash_index(table, batch, version=v).select(
            F.lit(v).alias("idx_version"),
            "batch_id",
            "corpus_id",
            "n_match",
            "est_jaccard",
        )
        out = r if out is None else out.unionByName(r)
    return out


def _pq_probe_oracle() -> str:
    """ADC probe mirror against both code-table versions. The stored
    codebook is the FROZEN base-corpus seed (vec_id < 16 AND
    vec_id%4 IN (0,1) — ``seed_codebook`` over the base subset), so
    the appended batch's codes must be encoded against it, not against
    a fresh codebook — exactly what the frozen-codebook contract
    requires and what this oracle recomputes."""
    parts = []
    for version, corpus in ((1, "(0, 1)"), (2, "(0, 1, 2)")):
        parts.append(f"""
    SELECT {version} AS idx_version, query_id, neighbor_id, adc_d2, rk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_d2, neighbor_id) AS rk
        FROM (
            SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
                   round(sum(q.d2::DECIMAL(28,9))::DOUBLE, 4) AS adc_d2
            FROM codes t
            JOIN sub_d q ON q.sub = t.sub AND q.code_id = t.code_id
            WHERE q.vec_id % 4 = 3 AND q.vec_id < 80
              AND t.vec_id % 4 IN {corpus}
            GROUP BY query_id, neighbor_id
        )
    ) WHERE rk <= 5""")
    return (
        """
    WITH e AS (
        SELECT vec_id, i AS pos, embedding[i]::DOUBLE AS val
        FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
    ),
    sub_d AS (
        SELECT v.vec_id, (v.pos - 1) // 16 AS sub, c.vec_id AS code_id,
               sum(((v.val - c.val) * (v.val - c.val))
                   ::DECIMAL(28,9))::DOUBLE AS d2
        FROM e v JOIN e c ON v.pos = c.pos AND c.vec_id < 16
                         AND c.vec_id % 4 IN (0, 1)
        GROUP BY v.vec_id, sub, c.vec_id
    ),
    codes AS (
        SELECT vec_id, sub, code_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                         ORDER BY d2, code_id) AS rk
            FROM sub_d) WHERE rk = 1
    )
    """
        + " UNION ALL ".join(parts)
    )


@audit("pq_index_probe_audit", oracle=_pq_probe_oracle())
def pq_index_probe_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """The persisted-PQ-index lifecycle under the driver gate: build
    codebook + code tables from the base corpus (vec_id%4 in (0,1)),
    APPEND a second batch's codes (vec_id%4 = 2) encoded against the
    FROZEN stored codebook, then ADC-probe 20 held-out queries
    (vec_id%4 = 3, vec_id < 80) against both code-table versions —
    version 1 is a time-travel read of the pre-append index. The oracle
    re-derives codebook, codes, and ADC rankings from the raw
    embeddings with the same decimal-exact distance sums, so a frozen-
    codebook violation (re-seeding on append shifts every appended
    code) or a version-resolution bug hash-mismatches.

    Scale: probes touch raw vectors only on the query side; the corpus
    side is the 3-int-column codes scan — the PQ memory model. The
    audit adds only the build pass production pays once.
    """
    from ..operators.pq_index import (
        build_pq_index,
        extend_pq_index,
        probe_pq_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 < 2)
    second = emb.filter(F.col("vec_id") % 4 == 2)
    queries_df = emb.filter(
        (F.col("vec_id") % 4 == 3) & (F.col("vec_id") < 80)
    )
    idx = build_pq_index(spark, base, tmp, train_iters=0)
    extend_pq_index(
        idx, second, txn={"app_id": "gate_audit", "batch_id": 1}
    )
    out = None
    for v in (1, 2):
        r = probe_pq_index(idx, queries_df, topk=5, version=v).select(
            F.lit(v).alias("idx_version"),
            "query_id",
            "neighbor_id",
            "adc_d2",
            "rk",
        )
        out = r if out is None else out.unionByName(r)
    return out


def _ivf_probe_oracle() -> str:
    """Cell-probed ANN mirror against both inverted-file versions. The
    stored centroids are the FROZEN base-corpus seed (vec_id < 16 AND
    vec_id%4 IN (0,1)); every vector — base, appended batch, and the
    probe queries — ranks against that same centroid set, exactly the
    frozen-centroid contract the index enforces."""
    parts = []
    for version, corpus in ((1, "(0, 1)"), (2, "(0, 1, 2)")):
        parts.append(f"""
    SELECT {version} AS idx_version, query_id, neighbor_id, cos_sim, rk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM (
            SELECT d.query_id, d.neighbor_id,
                   round(d.dot / (nq.nrm * nn.nrm), 4) AS cos_sim
            FROM (
                SELECT ca.query_id, ca.neighbor_id,
                       sum(q.val * c.val) AS dot
                FROM (
                    SELECT DISTINCT p.id AS query_id, h.id AS neighbor_id
                    FROM assign p JOIN assign h
                      ON p.cent_id = h.cent_id
                     AND p.cell_rank <= 2 AND h.cell_rank <= 2
                    WHERE p.id % 4 = 3 AND p.id < 80
                      AND h.id % 4 IN {corpus}
                      AND p.id <> h.id
                ) ca
                JOIN e q ON q.vec_id = ca.query_id
                JOIN e c ON c.vec_id = ca.neighbor_id AND q.pos = c.pos
                GROUP BY ca.query_id, ca.neighbor_id
            ) d
            JOIN norms nq ON nq.vec_id = d.query_id
            JOIN norms nn ON nn.vec_id = d.neighbor_id
        )
    ) WHERE rk <= 5""")
    return (
        """
    WITH e AS (
        SELECT vec_id, i AS pos, embedding[i]::DOUBLE AS val
        FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
    ),
    norms AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm FROM e GROUP BY vec_id),
    cent_dots AS (
        SELECT v.vec_id AS id, c.vec_id AS cent_id, sum(v.val * c.val) AS dot
        FROM e v JOIN e c ON v.pos = c.pos AND c.vec_id < 16
                         AND c.vec_id % 4 IN (0, 1)
        GROUP BY v.vec_id, c.vec_id
    ),
    assign AS (
        SELECT id, cent_id, cell_rank FROM (
            SELECT id, cent_id,
                   row_number() OVER (
                       PARTITION BY id
                       ORDER BY round(dot / (nv.nrm * nc.nrm), 4) DESC, cent_id
                   ) AS cell_rank
            FROM cent_dots
            JOIN norms nv ON nv.vec_id = id
            JOIN norms nc ON nc.vec_id = cent_id
        )
    )
    """
        + " UNION ALL ".join(parts)
    )


@audit("ivf_index_probe_audit", oracle=_ivf_probe_oracle())
def ivf_index_probe_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """The persisted-IVF-index lifecycle under the driver gate
    (completing the index family: MinHash text near-dup, PQ compressed
    distance, IVF cell-probed search): build centroid + inverted-file
    tables from the base corpus (vec_id%4 in (0,1), top-2
    multi-assignment), APPEND a second batch (vec_id%4 = 2) assigned
    against the FROZEN stored centroids, then probe 20 held-out
    queries (vec_id%4 = 3, vec_id < 80) against both versions —
    version 1 is a time-travel read of the pre-append inverted file.
    The oracle re-derives assignment, candidates, and exact-cosine
    rankings from the raw embeddings, so a frozen-centroid violation
    (re-seeding on append shifts every appended cell) or a
    version-resolution bug hash-mismatches.

    Scale: probes assign only the queries against the KB centroid
    broadcast; the corpus side is the 3-int inverted-file scan, and
    full candidate vectors move only AFTER cell pruning.
    """
    from ..operators.ivf_index import (
        build_ivf_index,
        extend_ivf_index,
        probe_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 < 2)
    second = emb.filter(F.col("vec_id") % 4 == 2)
    queries_df = emb.filter(
        (F.col("vec_id") % 4 == 3) & (F.col("vec_id") < 80)
    )
    idx = build_ivf_index(
        spark, base, tmp, n_cells=16, n_assign=2, train_iters=0
    )
    extend_ivf_index(
        idx, second, n_assign=2, txn={"app_id": "gate_audit", "batch_id": 1}
    )
    out = None
    for v in (1, 2):
        r = probe_ivf_index(
            idx, emb, queries_df, k=5, n_probe=2, version=v
        ).select(
            F.lit(v).alias("idx_version"),
            "query_id",
            "neighbor_id",
            "cos_sim",
            "rk",
        )
        out = r if out is None else out.unionByName(r)
    return out


@audit("ivf_index_compaction_audit", oracle=_ivf_probe_oracle())
def ivf_index_compaction_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """Compaction invisibility under the hash gate: the exact
    ``ivf_index_probe_audit`` lifecycle with a ``compact_ivf_index``
    between the append and the probes — version 1 is still the
    time-travel read of the pre-append index, and the LATEST
    (post-compaction) inverted file must rank identically to the
    pre-compaction one, so the oracle is byte-for-byte the probe
    audit's oracle. A compaction that drops, duplicates, or reorders
    rows in a way the probe can see hash-mismatches here.

    Scale: compaction is the maintenance pass a micro-batch-append
    index needs (N appends = N-file fragmentation = N footer reads per
    probe); invisibility is the property that makes it safe to run on
    a live index.
    """
    from ..operators.ivf_index import (
        build_ivf_index,
        compact_ivf_index,
        extend_ivf_index,
        probe_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 < 2)
    second = emb.filter(F.col("vec_id") % 4 == 2)
    queries_df = emb.filter(
        (F.col("vec_id") % 4 == 3) & (F.col("vec_id") < 80)
    )
    idx = build_ivf_index(
        spark, base, tmp, n_cells=16, n_assign=2, train_iters=0
    )
    extend_ivf_index(
        idx, second, n_assign=2, txn={"app_id": "gate_audit", "batch_id": 1}
    )
    compact_ivf_index(idx, target_files=1)
    out = None
    # label 1 = time travel past BOTH the compact and the append;
    # label 2 = the live post-compaction index (version=None)
    for label, v in ((1, 1), (2, None)):
        r = probe_ivf_index(
            idx, emb, queries_df, k=5, n_probe=2, version=v
        ).select(
            F.lit(label).alias("idx_version"),
            "query_id",
            "neighbor_id",
            "cos_sim",
            "rk",
        )
        out = r if out is None else out.unionByName(r)
    return out


def _ivf_drift_oracle() -> str:
    """Per-cell base vs appended membership of the extended index,
    recomputed from raw embeddings with the same frozen-seed-centroid
    assignment the index stores."""
    return """
    WITH e AS (
        SELECT vec_id, i AS pos, embedding[i]::DOUBLE AS val
        FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
    ),
    norms AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm FROM e GROUP BY vec_id),
    cent_dots AS (
        SELECT v.vec_id AS id, c.vec_id AS cent_id, sum(v.val * c.val) AS dot
        FROM e v JOIN e c ON v.pos = c.pos AND c.vec_id < 16
                         AND c.vec_id % 4 IN (0, 1)
        GROUP BY v.vec_id, c.vec_id
    ),
    assign AS (
        SELECT id, cent_id, cell_rank FROM (
            SELECT id, cent_id,
                   row_number() OVER (
                       PARTITION BY id
                       ORDER BY round(dot / (nv.nrm * nc.nrm), 4) DESC, cent_id
                   ) AS cell_rank
            FROM cent_dots
            JOIN norms nv ON nv.vec_id = id
            JOIN norms nc ON nc.vec_id = cent_id
        )
    ),
    rows_ AS (
        SELECT id, cent_id AS cell FROM assign
        WHERE cell_rank <= 2 AND id % 4 IN (0, 1, 2)
    ),
    per AS (
        SELECT cell,
               count(*) FILTER (id % 4 IN (0, 1))::BIGINT AS n_base,
               count(*) FILTER (id % 4 = 2)::BIGINT AS n_appended,
               count(*)::BIGINT AS n_total
        FROM rows_ GROUP BY cell
    )
    SELECT cell, n_base, n_appended, n_total,
           round(n_appended / n_total, 6) AS appended_frac,
           round(n_total / (avg(n_total) OVER ()), 6) AS load_ratio
    FROM per
    """


@audit("ivf_cell_drift_profile", oracle=_ivf_drift_oracle())
def ivf_cell_drift_profile(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """The retrain/drift signal a 100 TB IVF operator watches: after a
    build (vec_id%4 in (0,1)) + frozen-centroid append (vec_id%4 = 2),
    profile the inverted file per cell — base vs appended membership,
    appended fraction, and load ratio vs the mean cell. Appends under
    FROZEN centroids are what keep probes comparable across versions,
    but they also mean drifted arrivals pile into whichever old cells
    fit them least badly; when ``appended_frac`` is high while
    ``load_ratio`` skews, retrain-as-rebuild is due. Base membership
    comes from a time-travel read of version 1 vs the current inverted
    file — one narrow-int aggregate each, no vector data touched (the
    profile costs two scans of the 3-int cells table at any corpus
    size). The oracle recomputes both memberships from raw embeddings.
    """
    from pyspark.sql import Window as W

    from ..operators.ivf_index import build_ivf_index, extend_ivf_index

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 < 2)
    second = emb.filter(F.col("vec_id") % 4 == 2)
    idx = build_ivf_index(
        spark, base, tmp, n_cells=16, n_assign=2, train_iters=0
    )
    extend_ivf_index(
        idx, second, n_assign=2, txn={"app_id": "gate_audit", "batch_id": 1}
    )
    base_ct = (
        idx.cells.read(version=1)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_base"))
    )
    cur_ct = (
        idx.cells.read()
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_total"))
    )
    out = (
        cur_ct.join(base_ct, "cell", "left")
        .select(
            "cell",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            (F.col("n_total") - F.coalesce("n_base", F.lit(0))).alias(
                "n_appended"
            ),
            "n_total",
        )
        .withColumn(
            "appended_frac",
            F.round(F.col("n_appended") / F.col("n_total"), 6),
        )
        .withColumn(
            "load_ratio",
            F.round(
                F.col("n_total") / F.avg("n_total").over(W.partitionBy()),
                6,
            ),
        )
    )
    return out


def _ivfpq_probe_oracle() -> str:
    """IVF-PQ mirror: candidates from the frozen-seed-centroid cell
    assignment (top-2 cells each side), ranked by decimal-exact ADC
    against the frozen base-corpus seed codebook."""
    parts = []
    for version, corpus in ((1, "(0, 1)"), (2, "(0, 1, 2)")):
        parts.append(f"""
    SELECT {version} AS idx_version, query_id, neighbor_id, adc_d2, rk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_d2, neighbor_id) AS rk
        FROM (
            SELECT ca.query_id, ca.neighbor_id,
                   round(sum(q.d2::DECIMAL(28,9))::DOUBLE, 4) AS adc_d2
            FROM (
                SELECT DISTINCT p.id AS query_id, h.id AS neighbor_id
                FROM assign p JOIN assign h
                  ON p.cent_id = h.cent_id
                 AND p.cell_rank <= 2 AND h.cell_rank <= 2
                WHERE p.id % 4 = 3 AND p.id < 80
                  AND h.id % 4 IN {corpus}
                  AND p.id <> h.id
            ) ca
            JOIN codes t ON t.vec_id = ca.neighbor_id
            JOIN sub_d q ON q.vec_id = ca.query_id
                        AND q.sub = t.sub AND q.code_id = t.code_id
            GROUP BY ca.query_id, ca.neighbor_id
        )
    ) WHERE rk <= 5""")
    return (
        """
    WITH e AS (
        SELECT vec_id, i AS pos, embedding[i]::DOUBLE AS val
        FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
    ),
    norms AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm FROM e GROUP BY vec_id),
    cent_dots AS (
        SELECT v.vec_id AS id, c.vec_id AS cent_id, sum(v.val * c.val) AS dot
        FROM e v JOIN e c ON v.pos = c.pos AND c.vec_id < 16
                         AND c.vec_id % 4 IN (0, 1)
        GROUP BY v.vec_id, c.vec_id
    ),
    assign AS (
        SELECT id, cent_id, cell_rank FROM (
            SELECT id, cent_id,
                   row_number() OVER (
                       PARTITION BY id
                       ORDER BY round(dot / (nv.nrm * nc.nrm), 4) DESC, cent_id
                   ) AS cell_rank
            FROM cent_dots
            JOIN norms nv ON nv.vec_id = id
            JOIN norms nc ON nc.vec_id = cent_id
        )
    ),
    sub_d AS (
        SELECT v.vec_id, (v.pos - 1) // 16 AS sub, c.vec_id AS code_id,
               sum(((v.val - c.val) * (v.val - c.val))
                   ::DECIMAL(28,9))::DOUBLE AS d2
        FROM e v JOIN e c ON v.pos = c.pos AND c.vec_id < 16
                         AND c.vec_id % 4 IN (0, 1)
        GROUP BY v.vec_id, sub, c.vec_id
    ),
    codes AS (
        SELECT vec_id, sub, code_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                         ORDER BY d2, code_id) AS rk
            FROM sub_d) WHERE rk = 1
    )
    """
        + " UNION ALL ".join(parts)
    )


@audit("ivfpq_probe_audit", oracle=_ivfpq_probe_oracle())
def ivfpq_probe_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """The FAISS-architecture composition under the driver gate: IVF
    cell pruning + PQ asymmetric-distance ranking from four persisted
    lakehouse tables (centroids, inverted file, codebook, codes) —
    built from the base corpus (vec_id%4 in (0,1)), extended with a
    batch (vec_id%4 = 2) against BOTH frozen models under one txn
    stamp, probed at both versions (v1 = time travel on cells AND codes
    in lockstep). The probe's memory model is the 100 TB point: raw
    vectors appear only on the query side; the corpus is two 3-int
    scans. The oracle re-derives assignment, codes, and ADC rankings
    from the raw embeddings.
    """
    from ..operators.ivf_index import (
        build_ivfpq_index,
        extend_ivfpq_index,
        probe_ivfpq,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 < 2)
    second = emb.filter(F.col("vec_id") % 4 == 2)
    queries_df = emb.filter(
        (F.col("vec_id") % 4 == 3) & (F.col("vec_id") < 80)
    )
    ivf, pq = build_ivfpq_index(
        spark, base, tmp, n_cells=16, n_assign=2, train_iters=0
    )
    extend_ivfpq_index(
        ivf, pq, second, txn={"app_id": "gate_audit", "batch_id": 1}
    )
    out = None
    for v in (1, 2):
        r = probe_ivfpq(
            ivf, pq, queries_df, topk=5, n_probe=2, version=v
        ).select(
            F.lit(v).alias("idx_version"),
            "query_id",
            "neighbor_id",
            "adc_d2",
            "rk",
        )
        out = r if out is None else out.unionByName(r)
    return out


def _bpe_artifact_oracle() -> str:
    from .queries_ml import _bpe_encode_oracle

    return _bpe_encode_oracle(6, doc_pred="doc_id % 4 = 3")


@audit("bpe_artifact_encode_audit", oracle=_bpe_artifact_oracle())
def bpe_artifact_encode_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """The persisted-tokenizer lifecycle under the driver gate: train
    the 6-merge BPE on the FULL corpus, commit the merge table as a
    lakehouse artifact (``store_bpe_model``), then encode an arriving
    batch (doc_id%4 = 3) against the merges LOADED BACK from the stored
    snapshot — the nightly-batch shape where the model trains once and
    every later encode is model-load + batch-sized work. The oracle
    re-learns the merges in unrolled SQL and re-encodes the same batch,
    so a storage round-trip that loses merge ORDER (BPE applies merges
    by learned priority — a rank permutation changes token counts) or
    corrupts a symbol hash-mismatches.

    Scale: training is the one corpus pass per model version; the
    stored model is k rows; batch encode touches only the batch and its
    Heaps'-law-small distinct vocabulary.
    """
    from ..operators.tokenizer import (
        load_bpe_merges,
        store_bpe_model,
        trained_token_counts,
    )
    from .queries_ml import _BPE_MERGE_SCHEMA, _bpe_merge_rows

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 4 == 3)
    # training goes through the session memo (shared with the other
    # BPE queries — one corpus pass per session), committed as the
    # artifact the one-shot trainer would produce
    table = store_bpe_model(
        spark,
        docs,
        tmp,
        merges=spark.createDataFrame(
            _bpe_merge_rows(spark, sf_dir, k=6), _BPE_MERGE_SCHEMA
        ),
    )
    merges = load_bpe_merges(table)
    return trained_token_counts(batch, merges)


def _ivf_rebuild_oracle() -> str:
    """Two centroid GENERATIONS probed side by side: idx_version 1 =
    the pre-rebuild index (corpus (0,1,2) assigned against the
    original base seed centroids — vec_id < 16, vec_id%4 IN (0,1)),
    idx_version 2 = after retrain-as-rebuild over the full current
    corpus (seed rule ``vec_id < n_cells`` applied to the NEW corpus:
    every id < 16 with vec_id%4 IN (0,1,2) — a different, larger
    centroid set than the base generation's)."""
    gens = [
        (1, "c.vec_id < 16 AND c.vec_id % 4 IN (0, 1)"),
        (2, "c.vec_id < 16 AND c.vec_id % 4 IN (0, 1, 2)"),
    ]
    parts = []
    for gen, cent_pred in gens:
        parts.append(f"""
    SELECT {gen} AS idx_version, query_id, neighbor_id, cos_sim, rk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM (
            SELECT d.query_id, d.neighbor_id,
                   round(d.dot / (nq.nrm * nn.nrm), 4) AS cos_sim
            FROM (
                SELECT ca.query_id, ca.neighbor_id,
                       sum(q.val * c.val) AS dot
                FROM (
                    SELECT DISTINCT p.id AS query_id, h.id AS neighbor_id
                    FROM assign{gen} p JOIN assign{gen} h
                      ON p.cent_id = h.cent_id
                     AND p.cell_rank <= 2 AND h.cell_rank <= 2
                    WHERE p.id % 4 = 3 AND p.id < 80
                      AND h.id % 4 IN (0, 1, 2)
                      AND p.id <> h.id
                ) ca
                JOIN e q ON q.vec_id = ca.query_id
                JOIN e c ON c.vec_id = ca.neighbor_id AND q.pos = c.pos
                GROUP BY ca.query_id, ca.neighbor_id
            ) d
            JOIN norms nq ON nq.vec_id = d.query_id
            JOIN norms nn ON nn.vec_id = d.neighbor_id
        )
    ) WHERE rk <= 5""")
    assigns = ",\n".join(
        f"""
    cent_dots{gen} AS (
        SELECT v.vec_id AS id, c.vec_id AS cent_id, sum(v.val * c.val) AS dot
        FROM e v JOIN e c ON v.pos = c.pos AND ({cent_pred})
        GROUP BY v.vec_id, c.vec_id
    ),
    assign{gen} AS (
        SELECT id, cent_id, cell_rank FROM (
            SELECT id, cent_id,
                   row_number() OVER (
                       PARTITION BY id
                       ORDER BY round(dot / (nv.nrm * nc.nrm), 4) DESC, cent_id
                   ) AS cell_rank
            FROM cent_dots{gen}
            JOIN norms nv ON nv.vec_id = id
            JOIN norms nc ON nc.vec_id = cent_id
        )
    )"""
        for gen, cent_pred in gens
    )
    return (
        """
    WITH e AS (
        SELECT vec_id, i AS pos, embedding[i]::DOUBLE AS val
        FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
    ),
    norms AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm FROM e GROUP BY vec_id),
    """
        + assigns
        + " "
        + " UNION ALL ".join(parts)
    )


@audit("ivf_rebuild_audit", oracle=_ivf_rebuild_oracle())
def ivf_rebuild_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """Retrain-as-rebuild under the driver gate: build from the base
    corpus, append a batch against the FROZEN original centroids, then
    ``rebuild_ivf_index`` over the full current corpus — the seed rule
    applied to the new corpus yields a genuinely different centroid
    generation. Probe the held-out queries against BOTH generations:
    idx_version 1 pairs the pre-rebuild inverted file with the
    pre-rebuild centroid table (``version=2, centroid_version=1`` —
    the generational-pairing contract), idx_version 2 is the live
    rebuilt index. The oracle derives both assignments and rankings
    independently, so a rebuild that re-uses stale centroids, loses
    rows, or mixes generations hash-mismatches.

    Scale: rebuild is the two corpus passes a build always is
    (training + assignment) — paid when the drift profile says so,
    never per batch; old versions stay readable for in-flight readers.
    """
    from ..operators.ivf_index import (
        build_ivf_index,
        extend_ivf_index,
        probe_ivf_index,
        rebuild_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 < 2)
    second = emb.filter(F.col("vec_id") % 4 == 2)
    corpus = emb.filter(F.col("vec_id") % 4 != 3)
    queries_df = emb.filter(
        (F.col("vec_id") % 4 == 3) & (F.col("vec_id") < 80)
    )
    idx = build_ivf_index(
        spark, base, tmp, n_cells=16, n_assign=2, train_iters=0
    )
    extend_ivf_index(
        idx, second, n_assign=2, txn={"app_id": "gate_audit", "batch_id": 1}
    )
    rebuild_ivf_index(idx, corpus, n_cells=16, n_assign=2)
    out = None
    for label, kw in (
        (1, {"version": 2, "centroid_version": 1}),
        (2, {}),
    ):
        r = probe_ivf_index(
            idx, emb, queries_df, k=5, n_probe=2, **kw
        ).select(
            F.lit(label).alias("idx_version"),
            "query_id",
            "neighbor_id",
            "cos_sim",
            "rk",
        )
        out = r if out is None else out.unionByName(r)
    return out


def _schema_evolution_oracle() -> str:
    """Per-version facts of the evolved table: row counts, the evolved
    column's NULL count (old rows must surface NULL after evolution,
    and the pre-evolution version must not have the column at all —
    encoded as n_nulls = -1), and a decimal-exact sum over the evolved
    column's populated rows."""
    return """
    SELECT 1 AS version, count(*)::BIGINT AS n_rows,
           (-1)::BIGINT AS n_null_extra, 0::BIGINT AS sum_extra
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT 2, count(*)::BIGINT,
           (count(*) FILTER (doc_id % 2 = 0))::BIGINT,
           (sum(n_chars) FILTER (doc_id % 2 = 1))::BIGINT
    FROM documents
    """


@audit("lakehouse_schema_evolution_audit", oracle=_schema_evolution_oracle())
def lakehouse_schema_evolution_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """Schema evolution under the driver gate: CREATE the table with
    (doc_id, source) from the even documents, APPEND the odd documents
    WITH a new ``n_chars`` column under ``schema_evolution=True``, then
    emit per-version facts — version 1 must NOT have the column
    (``n_null_extra`` = -1 encodes its absence, from the time-travel
    schema), version 2 must surface NULL for every pre-evolution row
    and the exact ``n_chars`` sum for the appended ones. A write-side
    enforcement bug (column leaking into v1, NULLs materialized wrong,
    or the evolved column dropped) hash-mismatches.

    Scale: evolution costs nothing at write time (new files simply
    carry the new column); reads pay one footer merge — the audit adds
    no data-sized work beyond the create+append any table pays.
    """
    from ..sources.lakehouse import SnapshotTable

    docs = _t(spark, sf_dir, "documents")
    table = SnapshotTable(spark, tmp)
    table.create(
        docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "source")
    )
    table.append(
        docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "source", "n_chars"
        ),
        schema_evolution=True,
    )
    out = None
    for v in (1, 2):
        fields = table.table_schema(version=v).fieldNames()
        r = table.read(version=v)
        if "n_chars" in fields:
            agg = r.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count_if(F.col("n_chars").isNull()).alias(
                    "n_null_extra"
                ),
                F.sum("n_chars").alias("sum_extra"),
            )
        else:
            agg = r.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.lit(-1).cast("long").alias("n_null_extra"),
                F.lit(0).cast("long").alias("sum_extra"),
            )
        row = agg.select(
            F.lit(v).alias("version"), "n_rows", "n_null_extra", "sum_extra"
        )
        out = row if out is None else out.unionByName(row)
    return out


def _lakehouse_audit_oracle() -> str:
    """Filtered aggregates of ``documents`` equal to each lakehouse
    version's content after create/append/delete/merge."""
    stats = (
        "count(*)::BIGINT AS n_rows, "
        "count(DISTINCT source)::BIGINT AS n_sources, "
        "sum(doc_id)::BIGINT AS sum_doc_id, "
        "sum(n_chars)::BIGINT AS sum_n_chars"
    )
    v123 = [
        (1, "create", "doc_id % 3 = 0"),
        (2, "append", "doc_id % 3 IN (0, 1)"),
        (3, "delete", "doc_id % 3 IN (0, 1) AND doc_id % 7 <> 0"),
    ]
    parts = [
        f"""
    SELECT {v} AS version, '{op}' AS operation, {stats}
    FROM documents WHERE {pred}"""
        for v, op, pred in v123
    ]
    parts.append(f"""
    SELECT 4 AS version, 'merge' AS operation, {stats}
    FROM (
        SELECT doc_id, source, n_chars FROM documents
        WHERE doc_id % 3 IN (0, 1) AND doc_id % 7 <> 0 AND doc_id % 5 <> 0
        UNION ALL
        SELECT doc_id, 'merged' AS source, n_chars FROM documents
        WHERE doc_id % 5 = 0
    )""")
    return " UNION ALL ".join(parts)


@audit("lakehouse_time_travel_audit", oracle=_lakehouse_audit_oracle())
def lakehouse_time_travel_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """The lakehouse table format under the driver gate: CREATE a table
    from documents with doc_id%3 = 0, APPEND doc_id%3 = 1 (txn-stamped),
    row-level DELETE doc_id%7 = 0 (copy-on-write file rewrite), then
    MERGE an upsert batch (every doc_id%5 = 0 document with
    source = 'merged' — matched rows replaced, unmatched inserted).
    The result is one row PER VERSION, each aggregated from a
    time-travel ``read(version=v)``, with the operation name taken from
    the manifest history. The oracle recomputes all four states as
    filtered aggregates of the raw table — snapshot isolation, COW
    delete semantics, merge key matching, and history metadata all gate
    on exact integers.

    Scale: delete/merge rewrite only files containing touched rows
    (file-granular COW, the Delta strategy); time-travel reads are
    manifest-pruned scans. The audit table is documents-sized.
    """
    from ..sources.lakehouse import SnapshotTable

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    table = SnapshotTable(spark, tmp)
    table.create(docs.filter(F.col("doc_id") % 3 == 0))
    table.append(
        docs.filter(F.col("doc_id") % 3 == 1),
        txn={"app_id": "gate_audit", "batch_id": 1},
    )
    table.delete(F.col("doc_id") % 7 == 0)
    table.merge(
        docs.filter(F.col("doc_id") % 5 == 0).withColumn(
            "source", F.lit("merged")
        ),
        key_cols=["doc_id"],
        txn={"app_id": "gate_audit", "batch_id": 2},
    )
    ops = {s.version: s.operation for s in table.history()}
    out = None
    for v in sorted(ops):
        r = table.read(version=v).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("source").alias("n_sources"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.sum("n_chars").alias("sum_n_chars"),
        ).select(
            F.lit(v).alias("version"),
            F.lit(ops[v]).alias("operation"),
            "n_rows",
            "n_sources",
            "sum_doc_id",
            "sum_n_chars",
        )
        out = r if out is None else out.unionByName(r)
    return out


def _partition_audit_oracle() -> str:
    """Per-(version, bucket) aggregates mirroring the partitioned
    lifecycle: v1 = all documents bucketed by doc_id % 5; v2 = bucket 2
    dynamically overwritten with its even-doc_id rows at doubled
    n_chars; v3 = bucket 0 dropped (metadata-only delete)."""
    stats = (
        "count(*)::BIGINT AS n_rows, "
        "count(*)::BIGINT AS n_meta, "
        "sum(doc_id)::BIGINT AS sum_doc_id, "
        "sum(n_chars)::BIGINT AS sum_n_chars"
    )
    return f"""
    WITH v1 AS (
        SELECT doc_id, n_chars, doc_id % 5 AS bucket FROM documents
    ),
    v2 AS (
        SELECT doc_id, n_chars, bucket FROM v1 WHERE bucket <> 2
        UNION ALL
        SELECT doc_id, n_chars * 2 AS n_chars, 2 AS bucket FROM v1
        WHERE bucket = 2 AND doc_id % 2 = 0
    )
    SELECT 1 AS version, bucket::BIGINT AS bucket, {stats}
    FROM v1 GROUP BY bucket
    UNION ALL
    SELECT 2, bucket::BIGINT, {stats} FROM v2 GROUP BY bucket
    UNION ALL
    SELECT 3, bucket::BIGINT, {stats} FROM v2 WHERE bucket <> 0
    GROUP BY bucket
    """


@audit("lakehouse_partition_audit", oracle=_partition_audit_oracle())
def lakehouse_partition_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """Partitioned tables under the driver gate: CREATE a table
    partitioned by ``bucket = doc_id % 5``, dynamic-partition-OVERWRITE
    bucket 2 with its even-doc_id rows at doubled ``n_chars``
    (``overwrite_partitions`` — every other partition's files must
    carry over by reference), then DROP bucket 0 as a pure metadata
    commit (``drop_partitions``). Every emitted aggregate is computed
    from a PARTITION-PRUNED time-travel read
    (``read(version=v, partition_where=[("bucket", "=", b)])``), so the
    pruning path itself is what the hash gates: a file wrongly pruned
    (rows lost) or wrongly kept (a dropped/overwritten partition
    leaking back) changes the sums. The oracle recomputes all three
    versions from raw parquet.

    Scale: this is the 100 TB fact-table maintenance loop — backfill
    one partition, expire another — where the write cost is one
    partition's data and the delete cost is one manifest JSON; the
    pruned reads plan scans over only the matching partition's files
    (asserted by tests/test_lakehouse.py::TestPartitionedTables via
    ``inputFiles``).
    """
    from ..sources.lakehouse import SnapshotTable

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "n_chars", (F.col("doc_id") % 5).alias("bucket"))
    )
    table = SnapshotTable(spark, tmp, partition_by=["bucket"])
    # force the SHARDED checkpoint layout at gate scale (production
    # threshold is 64 files — sf0.01 stays under it), so the
    # shard-index write, per-shard pruned resolution, and delta
    # folding over shards are all inside the hash gate, not just
    # pytest (the hot-shingle low-cap trick)
    table.shard_checkpoint_files = 4
    table.create(docs)
    table.overwrite_partitions(
        docs.filter((F.col("bucket") == 2) & (F.col("doc_id") % 2 == 0))
        .withColumn("n_chars", F.col("n_chars") * 2)
    )
    table.drop_partitions([("bucket", "=", 0)])
    out = None
    for v in (1, 2, 3):
        for p in table.partitions(version=v):
            b = int(p["bucket"])
            # metadata-only COUNT(*) — gated against the oracle's
            # real count(*): the _nrows bookkeeping must survive
            # create/overwrite/drop COW exactly
            n_meta = table.row_count(
                version=v, partition_where=[("bucket", "=", b)]
            )
            r = table.read(
                version=v, partition_where=[("bucket", "=", b)]
            ).agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("doc_id").alias("sum_doc_id"),
                F.sum("n_chars").alias("sum_n_chars"),
            ).select(
                F.lit(v).cast("long").alias("version"),
                F.lit(b).cast("long").alias("bucket"),
                "n_rows",
                F.lit(n_meta).cast("long").alias("n_meta"),
                "sum_doc_id",
                "sum_n_chars",
            )
            out = r if out is None else out.unionByName(r)
    return out


def _bucket_audit_oracle() -> str:
    """Mirror of the bucketed-table lifecycle: final state = (create
    doc_id%3=0) ∪ (append doc_id%3=1) upserted by the merge batch
    (doc_id%5=2 → source='merged', n_chars×10; matched rows replaced,
    unmatched inserted). Bucket residency is recomputed from the SAME
    md5 hash the table's bucket function uses."""
    return f"""
    WITH state AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 2 THEN 'merged' ELSE source END
                   AS source,
               CASE WHEN doc_id % 5 = 2 THEN n_chars * 10 ELSE n_chars END
                   AS n_chars
        FROM documents
        WHERE doc_id % 3 IN (0, 1) OR doc_id % 5 = 2
    ),
    b AS (
        SELECT *, {_DUCK_HASH.format(x="doc_id::VARCHAR")} % 8 AS bucket
        FROM state
    )
    SELECT 'bucket' AS kind, bucket::BIGINT AS key,
           count(*)::BIGINT AS n_rows,
           count(*)::BIGINT AS n_meta,
           sum(n_chars)::BIGINT AS sum_n_chars
    FROM b GROUP BY bucket
    UNION ALL
    SELECT 'lookup' AS kind, doc_id::BIGINT AS key,
           1::BIGINT AS n_rows, -1::BIGINT AS n_meta,
           n_chars::BIGINT AS sum_n_chars
    FROM state WHERE doc_id % 7 = 3
    """


@audit("lakehouse_bucket_audit", oracle=_bucket_audit_oracle())
def lakehouse_bucket_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """Hash-bucketed table layout under the driver gate: CREATE a
    ``BucketedTable`` (bucket_col=doc_id, 8 buckets) from doc_id%3=0,
    APPEND doc_id%3=1, MERGE an upsert batch (doc_id%5=2 →
    source='merged', n_chars×10 — matched buckets rewritten, new keys
    inserted INTO THEIR hash bucket), then emit two fact families:

    - one row per non-empty bucket with the scanned row count, the
      METADATA-ONLY count (``row_count`` over that bucket's manifest
      stats — zero data read), and the n_chars sum: gates that rows
      land in ``portable_hash64(doc_id) % 8`` exactly, that merge
      re-derives buckets on rewrite (a NULL-bucket upsert would shift
      a bucket's counts), and that manifest stats survive the
      lifecycle;
    - one row per FOUND probe key (every doc_id%7=3 in the raw table —
      absent keys must return nothing) via :meth:`lookup`, which plans
      a scan over only the probed buckets' files.

    The oracle recomputes bucket residency from the same md5 the
    bucket function uses — an engine-independent check that the layout
    is portable, not Spark-private. Scale: lookup is the 100 TB
    point-read path (k keys → ≤k buckets' files, exact manifest
    pruning); merge cost is bounded by touched buckets, never the
    table."""
    import os

    from ..sources.lakehouse import BucketedTable

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    table = BucketedTable(
        spark, os.path.join(tmp, "tbl"), bucket_col="doc_id", n_buckets=8
    )
    table.create(docs.filter(F.col("doc_id") % 3 == 0))
    table.append(
        docs.filter(F.col("doc_id") % 3 == 1),
        txn={"app_id": "bucket_audit", "batch_id": 1},
    )
    table.merge(
        docs.filter(F.col("doc_id") % 5 == 2)
        .withColumn("source", F.lit("merged"))
        .withColumn("n_chars", F.col("n_chars") * 10),
        key_cols=["doc_id"],
        txn={"app_id": "bucket_audit", "batch_id": 2},
    )
    meta = spark.createDataFrame(
        [
            (b, table.row_count(partition_where=[("_bucket", "=", b)]))
            for b in range(table.n_buckets)
        ],
        "key long, n_meta long",
    )
    per_bucket = (
        table.read()
        .groupBy(F.col("_bucket").cast("long").alias("key"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("sum_n_chars"),
        )
        .join(meta, "key")
        .select(
            F.lit("bucket").alias("kind"),
            "key",
            "n_rows",
            "n_meta",
            "sum_n_chars",
        )
    )
    probe_ids = [
        r.doc_id
        for r in docs.filter(F.col("doc_id") % 7 == 3)
        .select("doc_id")
        .collect()
    ]
    found = table.lookup(probe_ids).select(
        F.lit("lookup").alias("kind"),
        F.col("doc_id").alias("key"),
        F.lit(1).cast("long").alias("n_rows"),
        F.lit(-1).cast("long").alias("n_meta"),
        F.col("n_chars").cast("long").alias("sum_n_chars"),
    )
    return per_bucket.unionByName(found)


def _partition_transform_oracle() -> str:
    """Replay of the day(ts)-partitioned events lifecycle from raw
    parquet: v1 = events; v2 = + day 2024-01-05 shifted 30 days forward
    under new ids (the late-landing partition); v3 = day 2024-01-10
    dynamically overwritten with its even-id rows at doubled value;
    v4 = days before 2024-01-04 expired. Probes per version: two exact
    derived-field day reads, the late day, and a SOURCE-column ts-range
    read (conservative pruning + row filter == exact rows)."""
    stats = (
        "count(*)::BIGINT AS n_rows, "
        "{meta} AS n_meta, "
        "coalesce(sum(event_id), 0)::BIGINT AS sum_event_id, "
        "round(coalesce(sum(value::DECIMAL(28,9)), 0)::DOUBLE, 4) AS sum_value"
    )
    day_stats = stats.format(meta="count(*)::BIGINT")
    rng_stats = stats.format(meta="(-1)::BIGINT")
    probes = [
        ("day_eq", "d = '2024-01-10'", day_stats),
        ("early_day", "d = '2024-01-02'", day_stats),
        ("late_day", "d = '2024-02-04'", day_stats),
        ("ts_range", "ts >= TIMESTAMP '2024-01-27 12:00:00'", rng_stats),
    ]
    sels = []
    for v in (1, 2, 3, 4):
        for name, cond, st in probes:
            sels.append(
                f"SELECT {v}::BIGINT AS version, '{name}' AS probe, {st} "
                f"FROM v{v} WHERE {cond}"
            )
    body = "\nUNION ALL\n".join(sels)
    return f"""
    WITH base AS (
        SELECT event_id, ts, value, strftime(ts, '%Y-%m-%d') AS d
        FROM events
    ),
    late AS (
        SELECT event_id + 10000000 AS event_id,
               ts + INTERVAL 30 DAY AS ts, value,
               strftime(ts + INTERVAL 30 DAY, '%Y-%m-%d') AS d
        FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-05'
    ),
    v1 AS (SELECT * FROM base),
    v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM late),
    v3 AS (
        SELECT * FROM v2 WHERE d <> '2024-01-10'
        UNION ALL
        SELECT event_id, ts, value * 2 AS value, d FROM v2
        WHERE d = '2024-01-10' AND event_id % 2 = 0
    ),
    v4 AS (SELECT * FROM v3 WHERE d >= '2024-01-04')
    {body}
    """


@audit(
    "lakehouse_partition_transform_audit",
    oracle=_partition_transform_oracle(),
)
def lakehouse_partition_transform_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """HIDDEN (transform) partitioning under the driver gate — the
    canonical 100 TB fact layout: events partitioned by ``day(ts)``
    (the reference's own fact stream is keyed by TXN_DATE,
    ``04_sales_enrich_sp.sql:36-39``; SURVEY §4 R5 names date
    partitioning as the pruning analog).

    Lifecycle: CREATE the day-partitioned table from events; APPEND a
    LATE day (day 2024-01-05 shifted +30 days under new event ids — the
    backfill arrival); dynamic-partition-OVERWRITE day 2024-01-10 with
    its even-id rows at doubled value (``overwrite_partitions`` derives
    the touched day THROUGH the transform); DROP expired days
    (``ts_day < '2024-01-04'``) as a pure metadata commit. Probes per
    version, every one a pruned time-travel read:

    - ``day_eq`` / ``early_day`` / ``late_day``: exact derived-field
      reads (``ts_day = …``) with the metadata-only ``row_count`` gated
      against the oracle's real count — ``n_meta`` proves the _nrows
      bookkeeping survives transform-derived COW exactly;
    - ``ts_range``: a SOURCE-column predicate (``ts >= X``) — the
      conservative day-level rewrite plus the row filter must equal the
      exact answer (``n_meta = -1``: exact metadata counts refuse
      translated predicates by design).

    Scale: appending a late day writes one day's files; the overwrite
    moves one partition; the drop moves none; the ranged read plans a
    scan over ~4 of ~31 day-partitions (sharded manifests forced low so
    the shard-pruned resolution path itself is under the hash gate).
    A wrong transform derivation, a mispruned day, or a leaked expired
    partition all change the sums.
    """
    from ..sources.lakehouse import SnapshotTable

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    table = SnapshotTable(spark, tmp, partition_by=["day(ts)"])
    table.shard_checkpoint_files = 8  # force the sharded-manifest path
    table.create(ev)
    late = (
        ev.filter(F.date_format("ts", "yyyy-MM-dd") == "2024-01-05")
        .select(
            (F.col("event_id") + F.lit(10000000)).alias("event_id"),
            (F.col("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
            "value",
        )
    )
    table.append(late, txn={"app_id": "transform_audit", "batch_id": 1})
    table.overwrite_partitions(
        ev.filter(
            (F.date_format("ts", "yyyy-MM-dd") == "2024-01-10")
            & (F.col("event_id") % 2 == 0)
        ).withColumn("value", F.col("value") * 2)
    )
    table.drop_partitions([("ts_day", "<", "2024-01-04")])

    rng_lit = "2024-01-27 12:00:00"
    probes = [
        ("day_eq", [("ts_day", "=", "2024-01-10")], None),
        ("early_day", [("ts_day", "=", "2024-01-02")], None),
        ("late_day", [("ts_day", "=", "2024-02-04")], None),
        ("ts_range", [("ts", ">=", rng_lit)], F.col("ts") >= rng_lit),
    ]
    out = None
    for v in (1, 2, 3, 4):
        for name, where, row_filter in probes:
            df = table.read(version=v, partition_where=where)
            if row_filter is not None:
                df = df.filter(row_filter)
                n_meta = -1
            else:
                n_meta = table.row_count(version=v, partition_where=where)
            r = df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(F.sum("event_id"), F.lit(0))
                .cast("long")
                .alias("sum_event_id"),
                F.round(
                    F.coalesce(
                        F.sum(F.col("value").cast("decimal(28,9)")),
                        F.lit(0),
                    ).cast("double"),
                    4,
                ).alias("sum_value"),
            ).select(
                F.lit(v).cast("long").alias("version"),
                F.lit(name).alias("probe"),
                "n_rows",
                F.lit(n_meta).cast("long").alias("n_meta"),
                "sum_event_id",
                "sum_value",
            )
            out = r if out is None else out.unionByName(r)
    return out


def _vacuum_audit_oracle() -> str:
    """Retained state after the vacuum lifecycle: v3/v4 both hold
    documents with doc_id%3 in (0,1) minus the dropped bucket 0
    (v4 is v3 compacted — same rows, new layout). The lifecycle
    invariants (expired versions unreadable, disk == retained
    manifests, orphan swept, replay high-water preserved) are exact
    integer flags."""
    stats = (
        "count(*)::BIGINT AS n_rows, "
        "sum(doc_id)::BIGINT AS sum_doc_id, "
        "sum(n_chars)::BIGINT AS sum_n_chars"
    )
    return f"""
    WITH state AS (
        SELECT doc_id, n_chars FROM documents
        WHERE doc_id % 3 IN (0, 1) AND doc_id % 4 <> 0
    )
    SELECT 'v3_after_vacuum' AS probe, {stats} FROM state
    UNION ALL
    SELECT 'v4_after_vacuum' AS probe, {stats} FROM state
    UNION ALL
    SELECT 'expired_gone', 1::BIGINT, 0::BIGINT, 0::BIGINT
    UNION ALL
    SELECT 'disk_matches_manifests', 1::BIGINT, 0::BIGINT, 0::BIGINT
    UNION ALL
    SELECT 'orphan_swept', 1::BIGINT, 0::BIGINT, 0::BIGINT
    UNION ALL
    SELECT 'replay_hwm_preserved', 1::BIGINT, 0::BIGINT, 0::BIGINT
    """


@audit("lakehouse_vacuum_audit", oracle=_vacuum_audit_oracle())
def lakehouse_vacuum_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """The vacuum/retention lifecycle under the driver gate — the one
    lakehouse surface that was pytest-only, and the site of a real r8
    bug (ce03c95: vacuum silently disarming streaming replay
    protection by dropping expired manifests' txn stamps).

    Lifecycle: CREATE a bucket-partitioned table (documents,
    bucket = doc_id % 4, doc_id%3==0), txn-stamped APPEND (doc_id%3==1,
    app_id='vac_audit' batch 1), DROP partition bucket 0 (v3), full
    COMPACT (v4), plant an ORPHAN parquet (a crashed write's leftover),
    then ``vacuum(retain_last=2)``. Probes:

    - ``v3_after_vacuum`` / ``v4_after_vacuum``: time-travel aggregates
      of BOTH retained versions read AFTER the vacuum — retained
      history must be byte-intact (v4 = compacted v3: same rows);
    - ``expired_gone``: reads of v1/v2 must RAISE (the retention
      boundary is real, not advisory);
    - ``disk_matches_manifests``: every parquet on disk is referenced
      by a retained manifest and vice versa — vacuum removed exactly
      the expired/orphan set, no more (data loss) and no less (leak);
    - ``orphan_swept``: the planted crashed-write file is gone;
    - ``replay_hwm_preserved``: ``last_committed_batch('vac_audit')``
      still answers 1 after its stamping manifest expired — the
      txn_seen fold that keeps exactly-once streaming sinks armed
      across retention sweeps.

    Scale: vacuum's cost is O(files on disk) listing + unlink of the
    expired set; the retained-manifest rewrite is one JSON. At 100 TB
    this is the nightly retention sweep; the replay high-water fold is
    what lets it run under live streaming ingest without re-ingesting
    checkpointed batches.
    """
    import os as _os

    from ..sources.lakehouse import SnapshotTable

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", (F.col("doc_id") % 4).alias("bucket")
    )
    table = SnapshotTable(spark, tmp, partition_by=["bucket"])
    table.create(docs.filter(F.col("doc_id") % 3 == 0))
    table.append(
        docs.filter(F.col("doc_id") % 3 == 1),
        txn={"app_id": "vac_audit", "batch_id": 1},
    )
    table.drop_partitions([("bucket", "=", 0)])
    table.compact(target_files=2)
    orphan = _os.path.join(tmp, "data", "b-orphancrash", "part-0.parquet")
    _os.makedirs(_os.path.dirname(orphan), exist_ok=True)
    docs.limit(5).coalesce(1).toPandas().to_parquet(orphan)
    # backdate past the in-flight grace: a crashed write is OLD by
    # the time vacuum runs; a FRESH unreferenced file is treated as
    # a possibly-in-flight commit and spared (r10 orphan grace)
    _old = __import__("time").time() - 7200
    _os.utime(orphan, (_old, _old))
    table.vacuum(retain_last=2)

    expired_gone = 1
    for v in (1, 2):
        try:
            table.read(version=v)
            expired_gone = 0
        except (LookupError, FileNotFoundError, ValueError):
            pass
    on_disk = set()
    for root, _dirs, names in _os.walk(_os.path.join(tmp, "data")):
        for n in names:
            if n.endswith(".parquet"):
                on_disk.add(
                    _os.path.normpath(
                        _os.path.relpath(_os.path.join(root, n), tmp)
                    )
                )
    retained = {
        f for v in table._versions() for f in table._load(v).files
    }
    disk_ok = 1 if on_disk == retained else 0
    orphan_ok = 0 if _os.path.exists(orphan) else 1
    hwm_ok = 1 if table.last_committed_batch("vac_audit") == 1 else 0

    vs = table._versions()
    out = None
    for label, v in (("v3_after_vacuum", vs[0]), ("v4_after_vacuum", vs[1])):
        r = table.read(version=v).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.sum("n_chars").cast("long").alias("sum_n_chars"),
        ).select(F.lit(label).alias("probe"), "n_rows", "sum_doc_id", "sum_n_chars")
        out = r if out is None else out.unionByName(r)
    flags = spark.createDataFrame(
        [
            ("expired_gone", expired_gone, 0, 0),
            ("disk_matches_manifests", disk_ok, 0, 0),
            ("orphan_swept", orphan_ok, 0, 0),
            ("replay_hwm_preserved", hwm_ok, 0, 0),
        ],
        "probe string, n_rows long, sum_doc_id long, sum_n_chars long",
    )
    return out.unionByName(flags)


def _spec_evolution_oracle() -> str:
    """State per version of the partition-spec-evolution lifecycle:
    v1 (create, event_type spec) and v2 (evolve — metadata only) hold
    events; v3 appends day 2024-01-05 shifted +31 days under new ids;
    v4 compacts (same rows); v5 drops days before 2024-01-04 (exact —
    post-compact every file records ts_day). Probes carry row filters,
    so conservative pruning across the spec boundary must still yield
    exact answers; the refusal flag pins the exact-surface guard."""
    stats = (
        "count(*)::BIGINT AS n_rows, {meta} AS n_meta, "
        "coalesce(sum(event_id), 0)::BIGINT AS sum_event_id"
    )
    sels = []
    for v, rel in ((1, "v1"), (2, "v1"), (3, "v3"), (4, "v3"), (5, "v5")):
        meta_day = "count(*)::BIGINT" if v >= 4 else "(-1)::BIGINT"
        probes = [
            ("type_eq", "event_type = 'purchase'", "(-1)::BIGINT"),
            ("day_eq", "d = '2024-01-10'", meta_day),
            ("late_day", "d = '2024-02-05'", meta_day),
        ]
        for name, cond, meta in probes:
            sels.append(
                f"SELECT {v}::BIGINT AS version, '{name}' AS probe, "
                + stats.format(meta=meta)
                + f" FROM {rel} WHERE {cond}"
            )
    sels.append(
        "SELECT 0::BIGINT, 'pre_compact_refusal', 1::BIGINT, (-1)::BIGINT,"
        " 0::BIGINT"
    )
    body = "\nUNION ALL\n".join(sels)
    return f"""
    WITH v1 AS (
        SELECT event_id, ts, event_type,
               strftime(ts, '%Y-%m-%d') AS d
        FROM events
    ),
    v3 AS (
        SELECT * FROM v1
        UNION ALL
        SELECT event_id + 10000000, ts + INTERVAL 31 DAY, event_type,
               strftime(ts + INTERVAL 31 DAY, '%Y-%m-%d')
        FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-05'
    ),
    v5 AS (SELECT * FROM v3 WHERE d >= '2024-01-04')
    {body}
    """


@audit(
    "lakehouse_partition_spec_evolution_audit",
    oracle=_spec_evolution_oracle(),
)
def lakehouse_partition_spec_evolution_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """Partition-SPEC evolution under the driver gate (Iceberg's
    evolve-without-rewrite): CREATE events partitioned by
    ``event_type``, EVOLVE the spec to ``[event_type, day(ts)]`` as a
    metadata-only commit, APPEND a late shifted day (files written
    under the NEW spec while old files keep their old tuples), COMPACT
    (migrating every file to the current spec), then DROP expired days
    exactly. Probes per version, each a pruned read + row filter:

    - ``type_eq``: the identity field both eras record — prunes
      exactly across the boundary;
    - ``day_eq`` / ``late_day``: the evolved field — pre-compact the
      pruned read KEEPS pre-evolution files (conservative, the row
      filter trims them; losing a row here means pruning dropped
      old-spec data), post-compact it prunes exactly and the
      metadata-only ``row_count`` re-arms (``n_meta``, -1 while any
      live file predates the field);
    - ``pre_compact_refusal``: ``drop_partitions`` on ``ts_day`` at v3
      must RAISE while pre-evolution files are live — the
      exact-surface guard that turns a silent under-drop into an
      error.

    Scale: evolution is one JSON commit on a 100 TB table (the whole
    point — hour->day re-granularity without touching history);
    conservative pruning degrades scan cost only for pre-evolution
    files, and compaction is the bounded migration that restores
    exactness.
    """
    from ..sources.lakehouse import SnapshotTable

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    table = SnapshotTable(spark, tmp, partition_by=["event_type"])
    table.create(ev)
    table.evolve_partition_spec(["event_type", "day(ts)"])
    late = ev.filter(
        F.date_format("ts", "yyyy-MM-dd") == "2024-01-05"
    ).select(
        (F.col("event_id") + F.lit(10000000)).alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 31 DAYS")).alias("ts"),
        "event_type",
    )
    table.append(late)
    refusal = 0
    try:
        table.drop_partitions([("ts_day", "<", "2024-01-04")])
    except ValueError:
        refusal = 1
    table.compact(target_files=4)
    table.drop_partitions([("ts_day", "<", "2024-01-04")])

    probes = [
        ("type_eq", [("event_type", "=", "purchase")],
         F.col("event_type") == "purchase", False),
        ("day_eq", [("ts_day", "=", "2024-01-10")],
         F.date_format("ts", "yyyy-MM-dd") == "2024-01-10", True),
        ("late_day", [("ts_day", "=", "2024-02-05")],
         F.date_format("ts", "yyyy-MM-dd") == "2024-02-05", True),
    ]
    out = None
    for v in (1, 2, 3, 4, 5):
        for name, where, row_filter, meta_able in probes:
            n_meta = (
                table.row_count(version=v, partition_where=where)
                if meta_able and v >= 4
                else -1
            )
            r = (
                table.read(version=v, partition_where=where)
                .filter(row_filter)
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.coalesce(F.sum("event_id"), F.lit(0))
                    .cast("long")
                    .alias("sum_event_id"),
                )
                .select(
                    F.lit(v).cast("long").alias("version"),
                    F.lit(name).alias("probe"),
                    "n_rows",
                    F.lit(n_meta).cast("long").alias("n_meta"),
                    "sum_event_id",
                )
            )
            out = r if out is None else out.unionByName(r)
    flag = spark.createDataFrame(
        [(0, "pre_compact_refusal", refusal, -1, 0)],
        "version long, probe string, n_rows long, n_meta long,"
        " sum_event_id long",
    )
    return out.unionByName(flag)


def _rollup_audit_oracle() -> str:
    """Rollup state after each refresh: k=1..3 cover the append-only
    fact growth (event_id % 3 < k), k=4 follows the row DELETE
    (event_id % 7 == 0 removed) maintained INCREMENTALLY via the
    change feed's retractions (r10 — the Delta-CDF materialized-view
    loop), k=5 follows a replace-all OVERWRITE (event_id % 2 == 0),
    whose change set is table-sized by definition: the honest full
    fallback. Decimal-exact value sums keep the incremental combine
    order-independent across engines."""
    parts = []
    for k, mode, pred in (
        (1, "full", "event_id % 3 < 1"),
        (2, "incremental", "event_id % 3 < 2"),
        (3, "incremental", "event_id % 3 < 3"),
        (4, "incremental_cdf", "event_id % 7 <> 0"),
        (5, "full", "event_id % 2 = 0"),
    ):
        parts.append(f"""
    SELECT {k}::BIGINT AS refresh, strftime(ts, '%Y-%m-%d') AS day,
           count(*)::BIGINT AS n_rows,
           round(sum(value::DECIMAL(28,9))::DOUBLE, 4) AS sum_value,
           '{mode}' AS mode
    FROM events WHERE {pred}
    GROUP BY day""")
    return " UNION ALL ".join(parts)


@audit(
    "lakehouse_incremental_rollup_audit",
    oracle=_rollup_audit_oracle(),
)
def lakehouse_incremental_rollup_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """Incrementally-maintained rollups under the driver gate — the
    BATCH twin of the reference's Processed-layer dynamic table
    (:mod:`..operators.rollup`; ``streaming/incremental.py`` gates the
    streaming form): a per-day (count, sum) rollup over an events fact
    is refreshed after every fact commit, and every refresh's FULL
    state is hash-gated.

    Lifecycle: create the fact (event_id%3==0) -> refresh (FULL:
    first build) -> append %3==1 -> refresh (INCREMENTAL: aggregates
    ONLY the appended files recovered from the commit manifests,
    rewrites only touched day-partitions of the rollup) -> append
    %3==2 -> refresh (incremental again) -> row DELETE (event_id%7==0)
    -> refresh (INCREMENTAL_CDF, r10: the change feed's retractions
    fold the deleted rows OUT of the existing groups — delete/merge no
    longer cost O(fact), the Delta-CDF materialized-view loop) ->
    replace-all OVERWRITE (event_id%2==0) -> refresh (FULL fallback:
    a replace-all commit's change set is table-sized by definition —
    the documented soundness boundary, still exercised). The emitted
    ``mode`` column gates that each refresh took the path it claims;
    decimal-exact sums make the incremental combine order-independent,
    so incremental and full states are bit-identical to the oracle's
    recompute.

    Scale: refresh cost is O(changed files + touched partitions) — the
    nightly 1 TB append (or a GDPR delete of one user's rows) against
    a 100 TB fact refreshes from the commit's own footprint; the
    high-water mark rides the rollup's own txn stamps, so replayed
    refreshes are metadata no-ops.
    """
    from ..operators.rollup import refresh_rollup
    from ..sources.lakehouse import SnapshotTable

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")

    def prepare(df):
        return df.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.col("value").cast("decimal(28,9)").alias("value"),
        )

    fact = SnapshotTable(spark, os.path.join(tmp, "fact"))
    rollup = SnapshotTable(
        spark, os.path.join(tmp, "roll"), partition_by=["day"]
    )
    steps = [
        lambda: fact.create(ev.filter(F.col("event_id") % 3 == 0)),
        lambda: fact.append(ev.filter(F.col("event_id") % 3 == 1)),
        lambda: fact.append(ev.filter(F.col("event_id") % 3 == 2)),
        lambda: fact.delete(F.col("event_id") % 7 == 0),
        lambda: fact.overwrite(ev.filter(F.col("event_id") % 2 == 0)),
    ]
    out = None
    for i, step in enumerate(steps, start=1):
        step()
        mode = refresh_rollup(
            fact, rollup, prepare, ["day"], ["value"], app_id="gate"
        )
        r = rollup.read().select(
            F.lit(i).cast("long").alias("refresh"),
            "day",
            "n_rows",
            F.round(F.col("sum_value").cast("double"), 4).alias(
                "sum_value"
            ),
            F.lit(mode).alias("mode"),
        )
        out = r if out is None else out.unionByName(r)
    return out


def _clone_audit_oracle() -> str:
    """Source and branch states around a shallow clone: the source is
    created from doc_id%2==0 and NEVER changes; the clone appends
    doc_id%2==1 and COW-deletes doc_id%5==0. The final source row is
    emitted AFTER every branch mutation — any leak across the clone
    boundary changes its sums."""
    stats = (
        "count(*)::BIGINT AS n_rows, sum(doc_id)::BIGINT AS sum_doc_id, "
        "sum(n_chars)::BIGINT AS sum_n_chars"
    )
    return f"""
    SELECT 'source_final' AS probe, {stats}
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT 'clone_v1', {stats} FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT 'clone_v2', {stats} FROM documents
    UNION ALL
    SELECT 'clone_v3', {stats} FROM documents WHERE doc_id % 5 <> 0
    UNION ALL
    SELECT 'zero_copy', 1::BIGINT, 0::BIGINT, 0::BIGINT
    """


@audit("lakehouse_clone_audit", oracle=_clone_audit_oracle())
def lakehouse_clone_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """Zero-copy shallow clone under the driver gate: CREATE a source
    table (doc_id%2==0), CLONE it (one JSON write — the ``zero_copy``
    probe asserts the clone dir holds NO parquet at clone time), then
    mutate ONLY the branch: append doc_id%2==1, COW-delete doc_id%5==0
    (rewrites source-referenced files INTO the clone's root). Probes:
    all three clone versions via time travel, plus the source's final
    state read AFTER every branch mutation — a branch write leaking
    into the source, or a clone read missing source-referenced files,
    changes the sums.

    Scale: cloning a 100 TB fact for an experiment costs one manifest
    write; branch COW costs are proportional to the branch's own
    mutations. The retention hazard (source vacuum expiring cloned-from
    files) is documented on :meth:`SnapshotTable.clone_to`.
    """
    from ..sources.lakehouse import SnapshotTable

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    src = SnapshotTable(spark, os.path.join(tmp, "src"))
    src.create(docs.filter(F.col("doc_id") % 2 == 0))
    clone = src.clone_to(os.path.join(tmp, "branch"))
    zero_copy = 1
    bdata = os.path.join(clone.path, "data")
    if os.path.isdir(bdata):
        for _r, _d, fs in os.walk(bdata):
            if any(f.endswith(".parquet") for f in fs):
                zero_copy = 0
    clone.append(docs.filter(F.col("doc_id") % 2 == 1))
    clone.delete(F.col("doc_id") % 5 == 0)

    def agg(df, probe):
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.sum("n_chars").cast("long").alias("sum_n_chars"),
        ).select(F.lit(probe).alias("probe"), "n_rows", "sum_doc_id",
                 "sum_n_chars")

    out = agg(src.read(), "source_final")
    for v in (1, 2, 3):
        out = out.unionByName(agg(clone.read(version=v), f"clone_v{v}"))
    flag = spark.createDataFrame(
        [("zero_copy", zero_copy, 0, 0)],
        "probe string, n_rows long, sum_doc_id long, sum_n_chars long",
    )
    return out.unionByName(flag)

def _cdf_audit_oracle() -> str:
    """Expected change feed per commit, recomputed from the raw events
    view: v2 append inserts event_id%3==1; v3 MERGE (source =
    event_id%5==0 with value+1000, key event_id) deletes the matched
    old rows (%5==0 AND %3<2) and inserts every source row; v4 DELETE
    (event_id%7==0) deletes the matching rows LIVE at v3 (values
    already merged); v5 compact is layout-only — zero changes, gated
    via the literal probe row. ``mode='labeled'`` replays the same
    feed through ``update_labels=True``: the v3 merge splits into
    update_preimage (matched old rows), update_postimage (their new
    images) and insert (unmatched source keys, %3==2); appends and
    deletes keep their coarse labels."""
    stats = (
        "count(*)::BIGINT AS n, sum(event_id)::BIGINT AS sum_event_id, "
        "round(sum(value::DECIMAL(28,9))::DOUBLE, 4) AS sum_value"
    )
    stats_plus = (
        "count(*)::BIGINT, sum(event_id)::BIGINT, "
        "round(sum((value + 1000)::DECIMAL(28,9))::DOUBLE, 4)"
    )
    return f"""
    WITH t3 AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 5 = 0 THEN value + 1000
                    ELSE value END AS value
        FROM events WHERE event_id % 3 < 2 OR event_id % 5 = 0
    )
    SELECT 'plain' AS mode, 2::BIGINT AS version, 'insert' AS change,
           event_type, {stats}
    FROM events WHERE event_id % 3 = 1 GROUP BY event_type
    UNION ALL
    SELECT 'plain', 3, 'delete', event_type, {stats}
    FROM events WHERE event_id % 5 = 0 AND event_id % 3 < 2
    GROUP BY event_type
    UNION ALL
    SELECT 'plain', 3, 'insert', event_type, {stats_plus}
    FROM events WHERE event_id % 5 = 0 GROUP BY event_type
    UNION ALL
    SELECT 'plain', 4, 'delete', event_type, {stats}
    FROM t3 WHERE event_id % 7 = 0 GROUP BY event_type
    UNION ALL
    SELECT 'plain', 5, 'layout_only', 'all', 0::BIGINT, 0::BIGINT,
           0.0::DOUBLE
    UNION ALL
    SELECT 'labeled', 2, 'insert', event_type, {stats}
    FROM events WHERE event_id % 3 = 1 GROUP BY event_type
    UNION ALL
    SELECT 'labeled', 3, 'update_preimage', event_type, {stats}
    FROM events WHERE event_id % 5 = 0 AND event_id % 3 < 2
    GROUP BY event_type
    UNION ALL
    SELECT 'labeled', 3, 'update_postimage', event_type, {stats_plus}
    FROM events WHERE event_id % 5 = 0 AND event_id % 3 < 2
    GROUP BY event_type
    UNION ALL
    SELECT 'labeled', 3, 'insert', event_type, {stats_plus}
    FROM events WHERE event_id % 5 = 0 AND event_id % 3 = 2
    GROUP BY event_type
    UNION ALL
    SELECT 'labeled', 4, 'delete', event_type, {stats}
    FROM t3 WHERE event_id % 7 = 0 GROUP BY event_type
    """


@audit("lakehouse_cdf_audit", oracle=_cdf_audit_oracle())
def lakehouse_cdf_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """CHANGE DATA FEED under the driver gate — the r10 headline: the
    remaining gap to the reference's dynamic-table semantics was a
    surface that EMITS row-level changes of delete/merge commits
    (architecture PNG; the enrich step at ``04_sales_enrich_sp.sql:22``
    consumes an incrementally-maintained table that must survive
    updates). ``SnapshotTable.changes`` recovers them compute-on-read
    from the commit manifests: a commit's change rows are the multiset
    diff of its removed files (pre-image) vs its added files
    (post-image) — Delta CDF's compute-on-read mode.

    Lifecycle on a throwaway events table: CREATE (event_id%3==0) ->
    APPEND (%3==1: pure inserts, no diff needed) -> MERGE (upsert
    %5==0 with value+1000: matched rows surface as delete+insert
    retraction pairs, unmatched as inserts) -> row DELETE (%7==0:
    deletes only — COW survivors in the rewritten files are NOT
    change rows) -> COMPACT (layout-only: the feed emits NOTHING,
    gated by the literal zero row). The oracle recomputes every
    commit's expected feed from the raw events view; a bug in
    manifest add/remove recovery, the pre/post multiset diff, or
    layout-only suppression breaks the hash.

    Scale: each commit's feed reads O(files that commit touched) —
    the GDPR-delete feed of a 100 TB fact reads the rewritten files,
    never the table. Downstream, ``operators/rollup.py`` folds exactly
    this feed to keep rollups incremental through deletes
    (``lakehouse_incremental_rollup_audit`` gates that composition).

    ``mode='labeled'`` replays the feed with ``update_labels=True``
    (Delta's four-way ``_change_type``): the merge commit's recorded
    ``merge_keys`` split its delta into update_preimage/postimage
    pairs vs true inserts — a consumer can now distinguish "a row
    changed" from insert/delete churn, at a cost of two commit-scoped
    key projections plus one broadcast join, only when asked.
    """
    from ..sources.lakehouse import SnapshotTable

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    t = SnapshotTable(spark, os.path.join(tmp, "fact"))
    t.create(ev.filter(F.col("event_id") % 3 == 0))
    t.append(ev.filter(F.col("event_id") % 3 == 1))
    t.merge(
        ev.filter(F.col("event_id") % 5 == 0).withColumn(
            "value", F.col("value") + F.lit(1000.0)
        ),
        ["event_id"],
    )
    t.delete(F.col("event_id") % 7 == 0)
    t.compact(target_files=2)

    def agg(chg, mode):
        return (
            chg.groupBy("_commit_version", "_change_type", "event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("event_id").cast("long").alias("sum_event_id"),
                F.round(
                    F.sum(F.col("value").cast("decimal(28,9)")).cast(
                        "double"
                    ),
                    4,
                ).alias("sum_value"),
            )
            .select(
                F.lit(mode).alias("mode"),
                F.col("_commit_version").alias("version"),
                F.col("_change_type").alias("change"),
                "event_type",
                "n",
                "sum_event_id",
                "sum_value",
            )
        )

    n_compact = t.changes(4, 5).count()  # layout-only: must be 0
    flag = spark.createDataFrame(
        [("plain", 5, "layout_only", "all", n_compact, 0, 0.0)],
        "mode string, version long, change string, event_type string,"
        " n long, sum_event_id long, sum_value double",
    )
    return (
        agg(t.changes(1, 5), "plain")
        .unionByName(agg(t.changes(1, 5, update_labels=True), "labeled"))
        .unionByName(flag)
    )

def _clone_retention_oracle() -> str:
    """Clone/source states around a SOURCE vacuum that expires
    cloned-from files: the compacted clone (self-contained) keeps
    reading %3 IN (0,1); the clone's PINNED pre-compact version must
    REFUSE (files gone — the documented retention hazard, now asserted
    not just documented); the overwritten source reads %3==2."""
    stats = (
        "count(*)::BIGINT AS n_rows, sum(doc_id)::BIGINT AS sum_doc_id, "
        "sum(n_chars)::BIGINT AS sum_n_chars"
    )
    return f"""
    SELECT 'clone_latest' AS probe, {stats}
    FROM documents WHERE doc_id % 3 < 2
    UNION ALL
    SELECT 'source_final', {stats} FROM documents WHERE doc_id % 3 = 2
    UNION ALL
    SELECT 'pinned_read_refused', 1::BIGINT, 0::BIGINT, 0::BIGINT
    """


@audit("lakehouse_clone_retention_audit", oracle=_clone_retention_oracle())
def lakehouse_clone_retention_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """The clone<->vacuum retention hazard, ASSERTED under the gate
    (r10 — it was previously only documented on
    :meth:`SnapshotTable.clone_to`): a shallow clone pins source files
    by reference only, so a SOURCE vacuum that expires the cloned-from
    version deletes files the clone still references (Delta has the
    identical hazard). Lifecycle: create source (doc_id%3==0), append
    (%3==1), CLONE, COMPACT the clone (the documented migration path —
    rewrites every reference under the clone's own root), OVERWRITE
    the source (%3==2), then ``src.vacuum(retain_last=1)``. Probes:

    - ``clone_latest``: the compacted clone is self-contained — it
      reads %3 IN (0,1) even though every cloned-from file is gone;
    - ``pinned_read_refused``: the clone's PRE-compact version still
      references the vacuumed source files — reading it must RAISE
      cleanly (flag=1), never silently return partial rows;
    - ``source_final``: the source reads its own post-overwrite rows —
      the vacuum deleted exactly the expired files, nothing live.

    Scale posture: this is the operational contract for branching a
    100 TB fact — clone for longer than the source's retention window
    means compacting the clone (bounded by the BRANCH's size) or
    raising source retention; the audit proves both sides of that
    line.
    """
    from ..sources.lakehouse import SnapshotTable

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    src = SnapshotTable(spark, os.path.join(tmp, "src"))
    src.create(docs.filter(F.col("doc_id") % 3 == 0))
    src.append(docs.filter(F.col("doc_id") % 3 == 1))
    clone = src.clone_to(os.path.join(tmp, "branch"))
    clone.compact(target_files=2)  # now self-contained (v2)
    src.overwrite(docs.filter(F.col("doc_id") % 3 == 2))
    src.vacuum(retain_last=1)  # expires the cloned-from files

    refused = 0
    try:
        clone.read(version=1).count()
    except Exception:
        refused = 1

    def agg(df, probe):
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.sum("n_chars").cast("long").alias("sum_n_chars"),
        ).select(F.lit(probe).alias("probe"), "n_rows", "sum_doc_id",
                 "sum_n_chars")

    out = agg(clone.read(), "clone_latest").unionByName(
        agg(src.read(), "source_final")
    )
    flag = spark.createDataFrame(
        [("pinned_read_refused", refused, 0, 0)],
        "probe string, n_rows long, sum_doc_id long, sum_n_chars long",
    )
    return out.unionByName(flag)

def _cdc_replication_oracle() -> str:
    """Replica state after each sync: k=1 full-syncs the created source
    (event_id%3==0); k=2 consumes one feed range spanning an append
    (%3==1), a merge (%5==0, value+1000) and a delete (%7==0) — the
    replica equals the source's net live set (appended-then-deleted
    keys like 7 net OUT); k=3 syncs across a compact (layout-only:
    metadata sync, rows unchanged)."""
    stats = (
        "count(*)::BIGINT AS n, sum(event_id)::BIGINT AS sum_event_id, "
        "round(sum(value::DECIMAL(28,9))::DOUBLE, 4) AS sum_value"
    )
    live = """
        SELECT event_id, event_type,
               CASE WHEN event_id % 5 = 0 THEN value + 1000
                    ELSE value END AS value
        FROM events
        WHERE (event_id % 3 < 2 OR event_id % 5 = 0) AND event_id % 7 <> 0
    """
    return f"""
    SELECT 1::BIGINT AS sync, 'full' AS mode, event_type, {stats}
    FROM events WHERE event_id % 3 = 0 GROUP BY event_type
    UNION ALL
    SELECT 2, 'incremental', event_type, {stats}
    FROM ({live}) GROUP BY event_type
    UNION ALL
    SELECT 3, 'incremental', event_type, {stats}
    FROM ({live}) GROUP BY event_type
    """


@audit("lakehouse_cdc_replication_audit", oracle=_cdc_replication_oracle())
def lakehouse_cdc_replication_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """CDC APPLY under the driver gate (operators/cdc.py — the Delta
    Live Tables ``APPLY CHANGES INTO`` shape): a downstream replica is
    kept row-identical to an upstream events table by consuming its
    change feed, where ``rollup.py`` folds the same feed into
    aggregates. Lifecycle: CREATE upstream (event_id%3==0) -> sync
    (FULL first copy) -> one multi-commit range [APPEND %3==1, MERGE
    %5==0 with value+1000, DELETE %7==0] -> sync (INCREMENTAL: nets
    the per-key effect — keys appended then deleted inside the range,
    e.g. event_id 7, apply as NOTHING; merge pairs apply as their
    post-image — then lands as one key-scoped delete + one key-scoped
    merge) -> COMPACT -> sync (incremental metadata-only: layout
    commits emit no changes). Each sync's claimed mode and the FULL
    replica state are hash-gated against the oracle's recompute of the
    source's live set.

    Scale: a sync reads O(files the upstream commits touched) and
    rewrites O(replica files holding affected keys) — replicating a
    day's upserts into a 100 TB serving copy never scans either
    table. Replay-proof via the replica's own txn stamps.
    """
    from ..operators.cdc import replicate_changes
    from ..sources.lakehouse import SnapshotTable

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    src = SnapshotTable(spark, os.path.join(tmp, "src"))
    dst = SnapshotTable(spark, os.path.join(tmp, "replica"))
    stages = [
        lambda: src.create(ev.filter(F.col("event_id") % 3 == 0)),
        lambda: (
            src.append(ev.filter(F.col("event_id") % 3 == 1)),
            src.merge(
                ev.filter(F.col("event_id") % 5 == 0).withColumn(
                    "value", F.col("value") + F.lit(1000.0)
                ),
                ["event_id"],
            ),
            src.delete(F.col("event_id") % 7 == 0),
        ),
        lambda: src.compact(target_files=2),
    ]
    out = None
    for k, stage in enumerate(stages, start=1):
        stage()
        mode = replicate_changes(src, dst, ["event_id"], app_id="gate")
        r = (
            dst.read()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("event_id").cast("long").alias("sum_event_id"),
                F.round(
                    F.sum(F.col("value").cast("decimal(28,9)")).cast(
                        "double"
                    ),
                    4,
                ).alias("sum_value"),
            )
            .select(
                F.lit(k).cast("long").alias("sync"),
                F.lit(mode).alias("mode"),
                "event_type",
                "n",
                "sum_event_id",
                "sum_value",
            )
        )
        out = r if out is None else out.unionByName(r)
    return out

def _dv_audit_oracle() -> str:
    """Table state per version around merge-on-read deletes: v1 all
    events, v2 after delete_mor(%5==0), v3 after delete_mor(%7==0)
    accumulates, v4 after compact (same rows, vectors purged). n_meta
    mirrors n_rows at every version (metadata counts subtract DV runs
    exactly). dv_feed restates the v2 change feed (the DV'd rows as
    deletes); the flag rows pin metadata-only commits and the purge."""
    stats = (
        "count(*)::BIGINT AS n_rows, count(*)::BIGINT AS n_meta, "
        "sum(event_id)::BIGINT AS sum_event_id"
    )
    return f"""
    SELECT 1::BIGINT AS version, 'state' AS probe, {stats} FROM events
    UNION ALL
    SELECT 2, 'state', {stats} FROM events WHERE event_id % 5 <> 0
    UNION ALL
    SELECT 3, 'state', {stats} FROM events
    WHERE event_id % 5 <> 0 AND event_id % 7 <> 0
    UNION ALL
    SELECT 4, 'state', {stats} FROM events
    WHERE event_id % 5 <> 0 AND event_id % 7 <> 0
    UNION ALL
    SELECT 2, 'dv_feed', count(*)::BIGINT, count(*)::BIGINT,
           sum(event_id)::BIGINT
    FROM events WHERE event_id % 5 = 0
    UNION ALL
    SELECT 2, 'metadata_only', 1, 1, 0
    UNION ALL
    SELECT 4, 'dv_purged', 1, 1, 0
    """


@audit("lakehouse_dv_audit", oracle=_dv_audit_oracle())
def lakehouse_dv_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """MERGE-ON-READ deletes via DELETION VECTORS under the driver
    gate (r10 — Delta DVs / Iceberg v2 position deletes):
    ``delete_mor`` records the matched rows' row-index runs in the
    manifest instead of rewriting files, so a GDPR-style delete
    scattered across a 100 TB table costs one JSON write; readers
    subtract the vectors through a codegen ``_metadata`` predicate
    (no join — the scan stays whole-stage fused).

    Lifecycle: CREATE events -> delete_mor(%5==0) — the
    ``metadata_only`` flag pins that NO parquet file was written or
    dropped by the commit -> delete_mor(%7==0) — vectors accumulate
    (union of runs; already-dead rows cannot re-match because the
    matching scan is itself DV-filtered) -> COMPACT — same rows, new
    files, the ``dv_purged`` flag pins that rewritten files carry no
    vectors. Probes per version: scan aggregates AND the
    metadata-only ``row_count`` (``n_meta`` — DV runs subtract
    exactly, never a scan); ``dv_feed`` gates the change feed of the
    DV commit (exactly the soft-deleted rows, file-scoped, no
    pre/post diff). Time travel across DV versions rides the same
    manifest fold as everything else.
    """
    from ..sources.lakehouse import SnapshotTable

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    t = SnapshotTable(spark, os.path.join(tmp, "fact"))
    t.create(ev)

    def live_parquet():
        n = 0
        for root, _d, names in os.walk(os.path.join(t.path, "data")):
            n += sum(1 for f in names if f.endswith(".parquet"))
        return n

    files_before = live_parquet()
    t.delete_mor(F.col("event_id") % 5 == 0)
    metadata_only = int(
        live_parquet() == files_before
        and set(t.snapshot().files) == set(t.snapshot(version=1).files)
    )
    t.delete_mor(F.col("event_id") % 7 == 0)
    t.compact(target_files=4)
    dv_purged = int(not t.snapshot().dvs)

    out = None
    for v in (1, 2, 3, 4):
        n_meta = t.row_count(version=v)
        r = (
            t.read(version=v)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("event_id").cast("long").alias("sum_event_id"),
            )
            .select(
                F.lit(v).cast("long").alias("version"),
                F.lit("state").alias("probe"),
                "n_rows",
                F.lit(n_meta).cast("long").alias("n_meta"),
                "sum_event_id",
            )
        )
        out = r if out is None else out.unionByName(r)
    feed = (
        t.changes(1, 2)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
        )
        .select(
            F.lit(2).cast("long").alias("version"),
            F.lit("dv_feed").alias("probe"),
            "n_rows",
            F.col("n_rows").alias("n_meta"),
            "sum_event_id",
        )
    )
    flags = spark.createDataFrame(
        [
            (2, "metadata_only", metadata_only, metadata_only, 0),
            (4, "dv_purged", dv_purged, dv_purged, 0),
        ],
        "version long, probe string, n_rows long, n_meta long,"
        " sum_event_id long",
    )
    return out.unionByName(feed).unionByName(flags)

def _constraints_audit_oracle() -> str:
    """Final state = the two good batches (all events); every rejection
    flag = 1 and the version counter proves nothing landed from the
    three rejected writes / the invalid ADD CONSTRAINT."""
    return """
    SELECT 'state' AS probe, count(*)::BIGINT AS n,
           sum(event_id)::BIGINT AS sum_event_id
    FROM events
    UNION ALL SELECT 'bad_append_rejected', 1, 0
    UNION ALL SELECT 'version_unchanged_after_reject', 1, 0
    UNION ALL SELECT 'invalid_add_constraint_rejected', 1, 0
    UNION ALL SELECT 'new_constraint_enforced', 1, 0
    """


@audit("lakehouse_constraints_audit", oracle=_constraints_audit_oracle())
def lakehouse_constraints_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """Write-side CHECK constraints under the driver gate (r10 —
    Delta's ``ALTER TABLE ADD CONSTRAINT`` / write-time enforcement;
    the write-side twin of the read-side Deequ suites in
    ``operators/validate.py``): constraints are TABLE state persisted
    in every manifest, and a violating batch is rejected in ONE
    aggregate pass BEFORE any file lands — a constraint that only
    fires on read is a constraint the bad data already escaped.

    Lifecycle: CREATE events (%2==0) with ``event_id IS NOT NULL`` /
    ``value IS NOT NULL`` -> good append (%2==1) -> a NULL-id batch
    is REJECTED (flag) with the version counter unchanged (flag) ->
    ``add_constraint`` that EXISTING rows violate is rejected after
    its validation scan (flag — Delta's ADD CONSTRAINT rule) ->
    ``add_constraint(event_id >= 0)`` succeeds (existing data proves
    it) -> a negated-id batch is rejected by the EVOLVED set (flag,
    enforced through a FRESH handle: the constraint came from the
    manifest, not the process). Final state hash-gates that exactly
    the two good batches landed.

    Scale: enforcement is one aggregate over the BATCH (all
    constraints in a single job), zero cost on tables without
    constraints; ADD CONSTRAINT is one scan of the table, then
    metadata-only.
    """
    from ..sources.lakehouse import (
        ConstraintViolationError,
        SnapshotTable,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    t = SnapshotTable(
        spark,
        os.path.join(tmp, "fact"),
        check_constraints={
            "id_nn": "event_id IS NOT NULL",
            "val_nn": "value IS NOT NULL",
        },
    )
    t.create(ev.filter(F.col("event_id") % 2 == 0))
    t.append(ev.filter(F.col("event_id") % 2 == 1))
    v_before = t.snapshot().version

    bad_rejected = 0
    try:
        t.append(
            ev.limit(10).select(
                F.lit(None).cast("long").alias("event_id"), "ts", "value"
            )
        )
    except ConstraintViolationError:
        bad_rejected = 1
    version_unchanged = int(t.snapshot().version == v_before)

    invalid_add_rejected = 0
    try:
        t.add_constraint("ids_are_even", "event_id % 2 = 0")
    except ConstraintViolationError:
        invalid_add_rejected = 1
    t.add_constraint("id_nonneg", "event_id >= 0")

    fresh = SnapshotTable(spark, t.path)  # constraints from manifest
    new_enforced = 0
    try:
        fresh.append(
            ev.limit(10).select(
                (-F.col("event_id") - 1).alias("event_id"), "ts", "value"
            )
        )
    except ConstraintViolationError:
        new_enforced = 1

    state = t.read().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").cast("long").alias("sum_event_id"),
    ).select(F.lit("state").alias("probe"), "n", "sum_event_id")
    flags = spark.createDataFrame(
        [
            ("bad_append_rejected", bad_rejected, 0),
            ("version_unchanged_after_reject", version_unchanged, 0),
            ("invalid_add_constraint_rejected", invalid_add_rejected, 0),
            ("new_constraint_enforced", new_enforced, 0),
        ],
        "probe string, n long, sum_event_id long",
    )
    return state.unionByName(flags)

def _rename_audit_oracle() -> str:
    """Logical state per version around a rename: v1 create (%3==0),
    v2 = the metadata-only rename commit (same rows), v3 appends %3==1
    under the NEW name, v4 COW-deletes %7==0 through the map. All
    versions present the logical view (the map is table metadata, so
    time travel shows today's names — Delta column-mapping behavior)."""
    stats = (
        "count(*)::BIGINT AS n, sum(event_id)::BIGINT AS sum_event_id, "
        "round(sum(value::DECIMAL(28,9))::DOUBLE, 4) AS sum_amount"
    )
    return f"""
    SELECT 1::BIGINT AS version, 'state' AS probe, {stats}
    FROM events WHERE event_id % 3 = 0
    UNION ALL
    SELECT 2, 'state', {stats} FROM events WHERE event_id % 3 = 0
    UNION ALL
    SELECT 3, 'state', {stats} FROM events WHERE event_id % 3 < 2
    UNION ALL
    SELECT 4, 'state', {stats} FROM events
    WHERE event_id % 3 < 2 AND event_id % 7 <> 0
    UNION ALL
    SELECT 6, 'state', {stats} FROM events
    WHERE (event_id % 3 < 2 AND event_id % 7 <> 0) OR event_id % 3 = 2
    UNION ALL
    SELECT 8, 'state', {stats} FROM (
        SELECT event_id, value FROM events
        WHERE (event_id % 3 < 2 AND event_id % 7 <> 0)
           OR event_id % 3 = 2
        UNION ALL
        SELECT event_id, value FROM events WHERE event_id % 21 = 5
    )
    UNION ALL
    SELECT 2, 'metadata_only', 1, 1, 0.0
    UNION ALL
    SELECT 5, 'ts_dropped', 1, 1, 0.0
    UNION ALL
    SELECT 7, 'ts_readded_meta_only', 1, 1, 0.0
    UNION ALL
    SELECT 8, 'ts_fresh_identity', 1, 1, 0.0
    """


@audit("lakehouse_rename_audit", oracle=_rename_audit_oracle())
def lakehouse_rename_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """RENAME COLUMN without rewrite under the driver gate (r10 —
    Delta column mapping, one level: data files keep the physical
    creation-time name forever; the manifest's logical->physical map
    translates every read and write). Renaming a column of a 100 TB
    table is ONE JSON commit.

    Lifecycle: CREATE events(event_id, ts, value) (%3==0) -> RENAME
    value -> amount (the ``metadata_only`` flag pins that the commit
    moved NO data: identical file set) -> APPEND %3==1 writing the NEW
    name (old and new files merge under one logical schema — no NULL
    split) -> COW DELETE %7==0 (the rewrite path translates through
    the map both ways) -> DROP COLUMN ts (the drop twin, also
    metadata-only: files keep the bytes, the ``ts_dropped`` flag pins
    that readers never see them) -> APPEND %3==2 WITHOUT the dropped
    column -> (r11) READD COLUMN ts under a FRESH physical identity
    (Delta's id-based mapping: drop-then-recreate no longer refuses)
    -> APPEND %21==5 carrying ts again. ``ts_fresh_identity`` pins
    that the dropped bytes never resurrect: pre-readd rows read NULL
    ts, only the new append's rows carry values.
    Probes: every version's logical-view aggregates; the
    oracle recomputes them from raw events with the new name aliased
    in SQL — a translation leak on either path breaks the hash.
    """
    from ..sources.lakehouse import SnapshotTable

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    t = SnapshotTable(spark, os.path.join(tmp, "fact"))
    t.create(ev.filter(F.col("event_id") % 3 == 0))
    files_before = set(t.snapshot().files)
    snap = t.rename_column("value", "amount")
    metadata_only = int(set(snap.files) == files_before)
    t.append(
        ev.filter(F.col("event_id") % 3 == 1).withColumnRenamed(
            "value", "amount"
        )
    )
    t.delete(F.col("event_id") % 7 == 0)
    t.drop_column("ts")
    ts_dropped = int("ts" not in t.read().columns)
    t.append(
        ev.filter(F.col("event_id") % 3 == 2).select(
            "event_id", F.col("value").alias("amount")
        )
    )
    files_pre_readd = set(t.snapshot().files)
    readd_snap = t.readd_column("ts")
    readd_meta_only = int(set(readd_snap.files) == files_pre_readd)
    n_prev = t.read().count()
    new_rows = ev.filter(F.col("event_id") % 21 == 5).select(
        "event_id", "ts", F.col("value").alias("amount")
    )
    n_new = new_rows.count()
    t.append(new_rows, schema_evolution=True)
    final = t.read()
    fresh_identity = int(
        final.filter(F.col("ts").isNotNull()).count() == n_new
        and final.filter(F.col("ts").isNull()).count() == n_prev
    )

    out = None
    for v in (1, 2, 3, 4, 6, 8):
        r = (
            t.read(version=v)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("event_id").cast("long").alias("sum_event_id"),
                F.round(
                    F.sum(F.col("amount").cast("decimal(28,9)")).cast(
                        "double"
                    ),
                    4,
                ).alias("sum_amount"),
            )
            .select(
                F.lit(v).cast("long").alias("version"),
                F.lit("state").alias("probe"),
                "n",
                "sum_event_id",
                "sum_amount",
            )
        )
        out = r if out is None else out.unionByName(r)
    flag = spark.createDataFrame(
        [
            (2, "metadata_only", metadata_only, metadata_only, 0.0),
            (5, "ts_dropped", ts_dropped, ts_dropped, 0.0),
            (
                7,
                "ts_readded_meta_only",
                readd_meta_only,
                readd_meta_only,
                0.0,
            ),
            (8, "ts_fresh_identity", fresh_identity, fresh_identity, 0.0),
        ],
        "version long, probe string, n long, sum_event_id long,"
        " sum_amount double",
    )
    return out.unionByName(flag)


def _dv_merge_audit_oracle() -> str:
    """Table state per version around a MERGE-ON-READ upsert: v1 =
    events with event_id%3<2; v2 after merge_mor(source = %5==0 with
    value+1000, key event_id) — matched old images DV'd, every source
    row appended; v3 after delete_mor(%7==0) accumulating on top; v4
    after compact (same rows, vectors purged). feed_* restates v2's
    change feed: deletes = the matched keys' OLD images, inserts =
    every source row (NEW images). n_meta mirrors n at every version
    (metadata counts subtract DV runs exactly)."""
    cur_val = (
        "CASE WHEN event_id % 5 = 0 THEN value + 1000 ELSE value END"
    )
    stats_old = (
        "count(*)::BIGINT AS n, count(*)::BIGINT AS n_meta, "
        "sum(event_id)::BIGINT AS sum_event_id, "
        "round(sum(value::DECIMAL(28,9))::DOUBLE, 4) AS sum_value"
    )
    stats_cur = (
        "count(*)::BIGINT, count(*)::BIGINT, sum(event_id)::BIGINT, "
        f"round(sum(({cur_val})::DECIMAL(28,9))::DOUBLE, 4)"
    )
    return f"""
    SELECT 1::BIGINT AS version, 'state' AS probe, {stats_old}
    FROM events WHERE event_id % 3 < 2
    UNION ALL
    SELECT 2, 'state', {stats_cur}
    FROM events WHERE event_id % 3 < 2 OR event_id % 5 = 0
    UNION ALL
    SELECT 3, 'state', {stats_cur}
    FROM events
    WHERE (event_id % 3 < 2 OR event_id % 5 = 0) AND event_id % 7 <> 0
    UNION ALL
    SELECT 4, 'state', {stats_cur}
    FROM events
    WHERE (event_id % 3 < 2 OR event_id % 5 = 0) AND event_id % 7 <> 0
    UNION ALL
    SELECT 2, 'feed_delete', {stats_old}
    FROM events WHERE event_id % 5 = 0 AND event_id % 3 < 2
    UNION ALL
    SELECT 2, 'feed_insert', count(*)::BIGINT, count(*)::BIGINT,
           sum(event_id)::BIGINT,
           round(sum((value + 1000)::DECIMAL(28,9))::DOUBLE, 4)
    FROM events WHERE event_id % 5 = 0
    UNION ALL
    SELECT 2, 'mor_no_rewrite', 1, 1, 0, 0.0
    UNION ALL
    SELECT 4, 'dv_purged', 1, 1, 0, 0.0
    """


@audit("lakehouse_dv_merge_audit", oracle=_dv_merge_audit_oracle())
def lakehouse_dv_merge_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """MERGE-ON-READ upserts via DELETION VECTORS under the driver
    gate (r11 — Delta's DV-backed MERGE, the upsert twin of
    ``lakehouse_dv_audit``'s deletes): ``merge_mor`` soft-deletes the
    matched target rows' positions and appends the source as new files
    in ONE commit, instead of COW-rewriting every file that holds a
    matched key. The 100 TB fit is the reference's continuously-
    upserted enrichment feed (``04_sales_enrich_sp.sql:22``): a CDC
    batch updating 10^4 keys scattered across 10^4 files costs one
    source-sized write plus one JSON commit, not a ~1 TB rewrite.

    Lifecycle: CREATE (event_id%3<2) -> merge_mor(%5==0, value+1000)
    — the ``mor_no_rewrite`` flag pins that every pre-existing file
    SURVIVED the commit (vectors, not rewrites) -> delete_mor(%7==0)
    — delete vectors accumulate over merge vectors -> COMPACT — the
    ``dv_purged`` flag pins re-materialization. Probes per version:
    scan aggregates and metadata-only ``row_count`` (``n_meta``);
    ``feed_delete``/``feed_insert`` gate the merge commit's change
    feed — old images retract, new images insert, the exact
    retraction-pair form rollup/CDC consumers fold.
    """
    from ..sources.lakehouse import SnapshotTable

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    t = SnapshotTable(spark, os.path.join(tmp, "fact"))
    t.create(ev.filter(F.col("event_id") % 3 < 2))
    files_v1 = set(t.snapshot().files)
    t.merge_mor(
        ev.filter(F.col("event_id") % 5 == 0).withColumn(
            "value", F.col("value") + F.lit(1000.0)
        ),
        ["event_id"],
    )
    snap2 = t.snapshot()
    mor_no_rewrite = int(
        files_v1 <= set(snap2.files) and bool(snap2.dvs)
    )
    t.delete_mor(F.col("event_id") % 7 == 0)
    t.compact(target_files=4)
    dv_purged = int(not t.snapshot().dvs)

    def agg(df, v, probe, n_meta=None):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,9)")).cast(
                    "double"
                ),
                4,
            ).alias("sum_value"),
        )
        return r.select(
            F.lit(v).cast("long").alias("version"),
            F.lit(probe).alias("probe"),
            "n",
            (
                F.lit(n_meta).cast("long")
                if n_meta is not None
                else F.col("n")
            ).alias("n_meta"),
            "sum_event_id",
            "sum_value",
        )

    out = None
    for v in (1, 2, 3, 4):
        r = agg(t.read(version=v), v, "state", n_meta=t.row_count(version=v))
        out = r if out is None else out.unionByName(r)
    chg = t.changes(1, 2)
    for ctype in ("delete", "insert"):
        r = agg(
            chg.filter(F.col("_change_type") == ctype),
            2,
            f"feed_{ctype}",
        )
        out = out.unionByName(r)
    flags = spark.createDataFrame(
        [
            (2, "mor_no_rewrite", mor_no_rewrite, mor_no_rewrite, 0, 0.0),
            (4, "dv_purged", dv_purged, dv_purged, 0, 0.0),
        ],
        "version long, probe string, n long, n_meta long,"
        " sum_event_id long, sum_value double",
    )
    return out.unionByName(flags)


def _cdf_persisted_audit_oracle() -> str:
    """Per-commit change feed served AFTER the pre-image files were
    vacuumed: v2 COW delete (%6==0) — its pre-images expire under
    vacuum(retain_last=3), so only the persisted sidecars can answer;
    v3 append (%2==1); v4 merge (%9==0, value+500) over the live set.
    state_final re-reads the table after everything."""
    return """
    SELECT 2::BIGINT AS version, 'delete' AS change,
           count(*)::BIGINT AS n, sum(event_id)::BIGINT AS sum_event_id,
           round(sum(value::DECIMAL(28,9))::DOUBLE, 4) AS sum_value
    FROM events WHERE event_id % 6 = 0
    UNION ALL
    SELECT 3, 'insert', count(*)::BIGINT, sum(event_id)::BIGINT,
           round(sum(value::DECIMAL(28,9))::DOUBLE, 4)
    FROM events WHERE event_id % 2 = 1
    UNION ALL
    SELECT 4, 'delete', count(*)::BIGINT, sum(event_id)::BIGINT,
           round(sum(value::DECIMAL(28,9))::DOUBLE, 4)
    FROM events
    WHERE event_id % 9 = 0 AND NOT (event_id % 2 = 0 AND event_id % 6 = 0)
    UNION ALL
    SELECT 4, 'insert', count(*)::BIGINT, sum(event_id)::BIGINT,
           round(sum((value + 500)::DECIMAL(28,9))::DOUBLE, 4)
    FROM events WHERE event_id % 9 = 0
    UNION ALL
    SELECT 0, 'state_final', count(*)::BIGINT, sum(event_id)::BIGINT,
           round(sum((CASE WHEN event_id % 9 = 0 THEN value + 500
                           ELSE value END)::DECIMAL(28,9))::DOUBLE, 4)
    FROM events
    WHERE NOT (event_id % 2 = 0 AND event_id % 6 = 0) OR event_id % 9 = 0
    UNION ALL
    SELECT 0, 'preimages_swept', 1, 0, 0.0
    UNION ALL
    SELECT 0, 'served_from_sidecars', 1, 0, 0.0
    """


@audit("lakehouse_cdf_persisted_audit", oracle=_cdf_persisted_audit_oracle())
def lakehouse_cdf_persisted_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """PERSISTED change-data-feed mode under the driver gate (r11 —
    Delta's ``delta.enableChangeDataFeed`` / ``_change_data``
    directory): a ``cdf=True`` table writes every row-removing
    commit's change rows as ``_changes/`` parquet sidecars BEFORE its
    manifest publishes, so :meth:`SnapshotTable.changes` keeps serving
    the commit after its pre-image data files are VACUUMED — the
    feed's retention boundary moves from file retention to manifest
    retention (compute-on-read raises there; r10's documented gap,
    closed).

    Lifecycle: CREATE events %2==0 (cdf on) -> COW DELETE %6==0 ->
    APPEND %2==1 -> MERGE %9==0 (value+500; re-inserts the %18==0 rows
    the delete removed) -> ``vacuum(retain_last=3)``: the delete's
    pre-image files expire (``preimages_swept`` pins that files really
    died), THEN the full feed ``changes(1, 4)`` is read and gated
    per-commit — the delete/merge commits can only answer from their
    sidecars (``served_from_sidecars`` pins that both manifests carry
    ``change_files``). ``state_final`` proves the table itself is
    intact. Scale: sidecar cost is O(each commit's change set), paid
    once at write time; the read side also skips the pre/post
    ``exceptAll`` recompute entirely.
    """
    from ..sources.lakehouse import SnapshotTable

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    t = SnapshotTable(spark, os.path.join(tmp, "fact"), cdf=True)
    t.create(ev.filter(F.col("event_id") % 2 == 0))
    t.delete(F.col("event_id") % 6 == 0)
    t.append(ev.filter(F.col("event_id") % 2 == 1))
    t.merge_mor(
        ev.filter(F.col("event_id") % 9 == 0).withColumn(
            "value", F.col("value") + F.lit(500.0)
        ),
        ["event_id"],
    )
    swept = t.vacuum(retain_last=3, orphan_grace_ms=0)
    preimages_swept = int(bool(swept))
    served_from_sidecars = int(
        bool(t._raw(2).get("change_files"))
        and bool(t._raw(4).get("change_files"))
    )
    chg = t.changes(1, 4)
    agg = (
        chg.groupBy("_commit_version", "_change_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,9)")).cast(
                    "double"
                ),
                4,
            ).alias("sum_value"),
        )
        .select(
            F.col("_commit_version").alias("version"),
            F.col("_change_type").alias("change"),
            "n",
            "sum_event_id",
            "sum_value",
        )
    )
    final = t.read().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("event_id").cast("long").alias("sum_event_id"),
        F.round(
            F.sum(F.col("value").cast("decimal(28,9)")).cast("double"),
            4,
        ).alias("sum_value"),
    ).select(
        F.lit(0).cast("long").alias("version"),
        F.lit("state_final").alias("change"),
        "n",
        "sum_event_id",
        "sum_value",
    )
    flags = spark.createDataFrame(
        [
            (0, "preimages_swept", preimages_swept, 0, 0.0),
            (0, "served_from_sidecars", served_from_sidecars, 0, 0.0),
        ],
        "version long, change string, n long, sum_event_id long,"
        " sum_value double",
    )
    return agg.unionByName(final).unionByName(flags)


def _cdf_stream_audit_oracle() -> str:
    """Silver state after each stream drain: drain 1 bootstraps from
    the fact's full history (%3==0); drain 2 folds a row DELETE
    (%7==0) and an APPEND (%3==1) per-commit. The flags pin the
    micro-batch count of drain 2 and the crash-replay no-op."""
    stats = (
        "count(*)::BIGINT AS n_rows, "
        "round(sum(value::DECIMAL(28,9))::DOUBLE, 4) AS sum_value"
    )
    return f"""
    SELECT 1::BIGINT AS drain, event_type AS probe, {stats}
    FROM events WHERE event_id % 3 = 0 GROUP BY event_type
    UNION ALL
    SELECT 2, event_type, {stats}
    FROM events
    WHERE (event_id % 3 = 0 AND event_id % 7 <> 0) OR event_id % 3 = 1
    GROUP BY event_type
    UNION ALL
    SELECT 0, 'micro_batches_drain2', 2, 0.0
    UNION ALL
    SELECT 0, 'replay_noop', 1, 0.0
    """


@audit("streaming_cdf_silver_audit", oracle=_cdf_stream_audit_oracle())
def streaming_cdf_silver_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """Streaming CHANGE-FEED source under the driver gate (r11 —
    ``streaming/cdf_source.py``): silver is maintained by DRAINING the
    fact's change stream (micro-batch per commit, checkpointed
    high-water offset) instead of a DAG-cadence batch refresh — the
    last step toward the reference's always-on dynamic table
    (architecture PNG; ``04_sales_enrich_sp.sql:22``).

    Lifecycle: fact CREATE (event_id%3==0) -> drain 1 (bootstraps from
    version 0: the whole history replays as inserts, like a Delta CDF
    stream at startingVersion=0) -> fact row DELETE (%7==0) + APPEND
    (%3==1) -> drain 2 (TWO micro-batches — the delete folds as
    retractions, the append as additions; ``micro_batches_drain2``
    pins the per-commit granularity). Then the stream's checkpoint is
    DELETED and the drain re-run: the sink's txn stamps absorb the
    replay (``replay_noop`` pins that silver's version did not move —
    exactly-once through an at-least-once stream layer, the
    Structured-Streaming two-layer contract). Both drains' full silver
    states are hash-gated against the oracle's recompute.
    """
    from ..streaming.cdf_source import maintain_rollup_stream
    from ..sources.lakehouse import SnapshotTable

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def prepare(df):
        return df.select(
            "event_type",
            F.col("value").cast("decimal(28,9)").alias("value"),
        )

    fact = SnapshotTable(spark, os.path.join(tmp, "fact"))
    silver = SnapshotTable(spark, os.path.join(tmp, "silver"))
    ckpt = os.path.join(tmp, "ckpt")
    fact.create(ev.filter(F.col("event_id") % 3 == 0))
    maintain_rollup_stream(
        fact, silver, prepare, ["event_type"], ["value"], ckpt
    )

    def state(drain):
        return silver.read().select(
            F.lit(drain).cast("long").alias("drain"),
            F.col("event_type").alias("probe"),
            "n_rows",
            F.round(F.col("sum_value").cast("double"), 4).alias(
                "sum_value"
            ),
        )

    out = state(1)
    fact.delete(F.col("event_id") % 7 == 0)
    fact.append(ev.filter(F.col("event_id") % 3 == 1))
    ranges = maintain_rollup_stream(
        fact, silver, prepare, ["event_type"], ["value"], ckpt
    )
    out = out.unionByName(state(2))
    v_before = silver.snapshot().version
    os.unlink(os.path.join(ckpt, "offset.json"))  # lose the checkpoint
    maintain_rollup_stream(
        fact, silver, prepare, ["event_type"], ["value"], ckpt
    )
    replay_noop = int(silver.snapshot().version == v_before)
    flags = spark.createDataFrame(
        [
            (0, "micro_batches_drain2", len(ranges), 0.0),
            (0, "replay_noop", replay_noop, 0.0),
        ],
        "drain long, probe string, n_rows long, sum_value double",
    )
    return out.unionByName(flags)


def _update_audit_oracle() -> str:
    """Table state per version around row-level UPDATEs: v2 = COW
    update (value+100 where %4==0), v3 = MoR update (value*2 where
    %6==0, applied on TOP of v2's values — %12==0 rows compose both).
    feed_* restates v3's change feed: old images out, new images in."""
    v2 = "CASE WHEN event_id % 4 = 0 THEN value + 100 ELSE value END"
    v3 = f"CASE WHEN event_id % 6 = 0 THEN ({v2}) * 2 ELSE ({v2}) END"

    def stats(expr):
        return (
            "count(*)::BIGINT, count(*)::BIGINT, sum(event_id)::BIGINT, "
            f"round(sum(({expr})::DECIMAL(28,9))::DOUBLE, 4)"
        )

    return f"""
    SELECT 1::BIGINT AS version, 'state' AS probe,
           count(*)::BIGINT AS n, count(*)::BIGINT AS n_meta,
           sum(event_id)::BIGINT AS sum_event_id,
           round(sum(value::DECIMAL(28,9))::DOUBLE, 4) AS sum_value
    FROM events
    UNION ALL
    SELECT 2, 'state', {stats(v2)} FROM events
    UNION ALL
    SELECT 3, 'state', {stats(v3)} FROM events
    UNION ALL
    SELECT 3, 'feed_delete', {stats(v2)} FROM events WHERE event_id % 6 = 0
    UNION ALL
    SELECT 3, 'feed_insert', {stats(f"({v2}) * 2")}
    FROM events WHERE event_id % 6 = 0
    UNION ALL
    SELECT 3, 'mor_no_rewrite', 1, 1, 0, 0.0
    """


@audit("lakehouse_update_audit", oracle=_update_audit_oracle())
def lakehouse_update_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """Row-level UPDATE under the driver gate (r11 — the remaining DML
    verb: delete/merge landed r7-r10): ``UPDATE ... SET col = expr
    WHERE pred`` in both strategies. COW rewrites only the files
    holding matching rows (matched rows transformed, file-mates
    carried in the same write — Delta's UPDATE); MoR soft-deletes the
    matched positions via deletion vectors and appends the transformed
    rows — one JSON commit for an update scattered across a 100 TB
    table, the ``mor_no_rewrite`` flag pinning that every v2 file
    SURVIVED the v3 commit.

    Lifecycle: CREATE events -> COW update (value+100 where %4==0) ->
    MoR update (value*2 where %6==0 — composes on top of v2's values
    for %12==0 rows, proving updates read the CURRENT state, not the
    original). Probes: per-version scan aggregates + metadata-only row
    counts (DV runs subtract exactly), and the MoR commit's change
    feed (old images retract, new images insert — the pair rollup/CDC
    consumers fold; gated in pytest through both).
    """
    from ..sources.lakehouse import SnapshotTable

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    t = SnapshotTable(spark, os.path.join(tmp, "fact"))
    t.create(ev)
    t.update(F.col("event_id") % 4 == 0, {"value": F.col("value") + 100.0})
    files_v2 = set(t.snapshot().files)
    t.update(
        F.col("event_id") % 6 == 0,
        {"value": F.col("value") * 2.0},
        strategy="mor",
    )
    snap3 = t.snapshot()
    mor_no_rewrite = int(files_v2 <= set(snap3.files) and bool(snap3.dvs))

    def agg(df, v, probe, n_meta=None):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,9)")).cast(
                    "double"
                ),
                4,
            ).alias("sum_value"),
        ).select(
            F.lit(v).cast("long").alias("version"),
            F.lit(probe).alias("probe"),
            "n",
            (
                F.lit(n_meta).cast("long")
                if n_meta is not None
                else F.col("n")
            ).alias("n_meta"),
            "sum_event_id",
            "sum_value",
        )

    out = None
    for v in (1, 2, 3):
        r = agg(
            t.read(version=v), v, "state", n_meta=t.row_count(version=v)
        )
        out = r if out is None else out.unionByName(r)
    chg = t.changes(2, 3)
    for ctype in ("delete", "insert"):
        out = out.unionByName(
            agg(
                chg.filter(F.col("_change_type") == ctype),
                3,
                f"feed_{ctype}",
            )
        )
    flag = spark.createDataFrame(
        [(3, "mor_no_rewrite", mor_no_rewrite, mor_no_rewrite, 0, 0.0)],
        "version long, probe string, n long, n_meta long,"
        " sum_event_id long, sum_value double",
    )
    return out.unionByName(flag)


def _cdc_stream_audit_oracle() -> str:
    """Replica state after each stream drain: drain 1 bootstraps the
    full source (%3<2); drain 2 folds a COW delete (%7==0) and a
    merge-on-read upsert (%5==0, value+1000) commit by commit. The
    flags pin drain 2's micro-batch count and the crash-replay no-op."""
    stats = (
        "count(*)::BIGINT AS n, sum(event_id)::BIGINT AS sum_event_id, "
        "round(sum((CASE WHEN event_id %% 5 = 0 THEN value + 1000 "
        "ELSE value END)::DECIMAL(28,9))::DOUBLE, 4) AS sum_value"
    ).replace("%%", "%")
    return f"""
    SELECT 1::BIGINT AS drain, 'state' AS probe,
           count(*)::BIGINT AS n, sum(event_id)::BIGINT AS sum_event_id,
           round(sum(value::DECIMAL(28,9))::DOUBLE, 4) AS sum_value
    FROM events WHERE event_id % 3 < 2
    UNION ALL
    SELECT 2, 'state', {stats}
    FROM events
    WHERE (event_id % 3 < 2 AND event_id % 7 <> 0) OR event_id % 5 = 0
    UNION ALL
    SELECT 0, 'micro_batches_drain2', 2, 0, 0.0
    UNION ALL
    SELECT 0, 'replay_noop', 1, 0, 0.0
    """


@audit("streaming_cdc_replica_audit", oracle=_cdc_stream_audit_oracle())
def streaming_cdc_replica_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """Streaming ROW-LEVEL replication under the driver gate (r11 —
    ``maintain_replica_stream``, the stream form of
    ``lakehouse_cdc_replication_audit``'s batch sync): a downstream
    replica is kept row-identical by DRAINING the source's change
    stream, netting each micro-batch per key and landing it as a
    key-scoped delete + merge stamped with the range's upper source
    version.

    Lifecycle: source CREATE (event_id%3<2) -> drain 1 (bootstrap) ->
    COW DELETE (%7==0) + merge_mor upsert (%5==0, value+1000 — the
    DV-backed MERGE flowing through the stream) -> drain 2 as TWO
    per-commit micro-batches (count pinned). The stream checkpoint is
    then DELETED and re-drained: the replica's version must not move
    (``replay_noop`` — exactly-once through the at-least-once stream
    layer). Note the upsert is applied to the replica even though the
    deleted %7 rows matching %5 were retracted a commit earlier — the
    per-key netting across commit boundaries is exactly what the
    oracle's final-state recompute checks.
    """
    from ..streaming.cdf_source import maintain_replica_stream
    from ..sources.lakehouse import SnapshotTable

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    src = SnapshotTable(spark, os.path.join(tmp, "src"))
    dst = SnapshotTable(spark, os.path.join(tmp, "dst"))
    ckpt = os.path.join(tmp, "ckpt")
    src.create(ev.filter(F.col("event_id") % 3 < 2))
    maintain_replica_stream(src, dst, ["event_id"], ckpt)

    def state(drain):
        return dst.read().agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,9)")).cast(
                    "double"
                ),
                4,
            ).alias("sum_value"),
        ).select(
            F.lit(drain).cast("long").alias("drain"),
            F.lit("state").alias("probe"),
            "n",
            "sum_event_id",
            "sum_value",
        )

    out = state(1)
    src.delete(F.col("event_id") % 7 == 0)
    src.merge_mor(
        ev.filter(F.col("event_id") % 5 == 0).withColumn(
            "value", F.col("value") + F.lit(1000.0)
        ),
        ["event_id"],
    )
    ranges = maintain_replica_stream(src, dst, ["event_id"], ckpt)
    out = out.unionByName(state(2))
    v_before = dst.snapshot().version
    os.unlink(os.path.join(ckpt, "offset.json"))
    maintain_replica_stream(src, dst, ["event_id"], ckpt)
    replay_noop = int(dst.snapshot().version == v_before)
    flags = spark.createDataFrame(
        [
            (0, "micro_batches_drain2", len(ranges), 0, 0.0),
            (0, "replay_noop", replay_noop, 0, 0.0),
        ],
        "drain long, probe string, n long, sum_event_id long,"
        " sum_value double",
    )
    return out.unionByName(flags)


def _dedup_retention_oracle() -> str:
    """Corpus states around a dedup-maintenance pass: pre_dedup = the
    documents table plus a re-id'd copy of doc_id%4==0 (the planted
    duplicates); post_dedup / silver = exactly the originals (every
    copy's content hash collides with its source, and min-doc_id keeps
    the original). Flags pin the merge-on-read application and the
    rollup's incremental_cdf claim."""
    stats = "count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS sum_n_chars"
    return f"""
    WITH corpus AS (
        SELECT doc_id, lang, n_chars FROM documents
        UNION ALL
        SELECT doc_id + 100000, lang, n_chars
        FROM documents WHERE doc_id % 4 = 0
    )
    SELECT 'pre_dedup' AS stage, lang, {stats}
    FROM corpus GROUP BY lang
    UNION ALL
    SELECT 'post_dedup', lang, {stats} FROM documents GROUP BY lang
    UNION ALL
    SELECT 'silver', lang, {stats} FROM documents GROUP BY lang
    UNION ALL
    SELECT 'flags', 'mor_no_rewrite', 1, 0
    UNION ALL
    SELECT 'flags', 'mode_incremental_cdf', 1, 0
    """


@audit("lakehouse_dedup_retention_audit", oracle=_dedup_retention_oracle())
def lakehouse_dedup_retention_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """Dedup-MAINTENANCE over the lakehouse under the driver gate (r11
    — the composition that makes the LLM-pipeline dedup tier
    OPERATIONAL at 100 TB): exact near-copies are found with the same
    hash-group discipline as the batch dedup operators, retracted from
    the corpus table via ``delete_keys_mor`` (the loser keys arrive as
    a DataFrame; matched positions become deletion vectors — ONE JSON
    commit for losers scattered across the whole corpus, never a
    rewrite), and the downstream per-language rollup refreshes from
    the change feed's retractions (``incremental_cdf``) — the corpus
    is never rescanned by any stage.

    Lifecycle: CREATE corpus = documents plus a re-id'd copy of
    doc_id%4==0 (content hashes collide with their sources by
    construction) -> FULL rollup build -> dedup pass: keeper =
    min(doc_id) per content_md5 (one aggregate + one join, both
    bounded by the corpus's group count), losers -> delete_keys_mor
    (``mor_no_rewrite`` pins that every data file survived) -> rollup
    refresh must CLAIM incremental_cdf and equal the oracle's
    originals-only recompute.
    """
    from ..operators.rollup import refresh_rollup
    from ..sources.lakehouse import SnapshotTable

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", F.md5("text").alias("content_md5")
    )
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 4 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(100000)
        )
    )
    t = SnapshotTable(spark, os.path.join(tmp, "corpus"))
    silver = SnapshotTable(spark, os.path.join(tmp, "silver"))
    t.create(corpus)

    def prepare(df):
        return df.select("lang", F.col("n_chars").cast("long"))

    refresh_rollup(t, silver, prepare, ["lang"], ["n_chars"], app_id="g")

    def state(df, stage):
        return (
            df.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("n_chars").cast("long").alias("sum_n_chars"),
            )
            .select(
                F.lit(stage).alias("stage"), "lang", "n", "sum_n_chars"
            )
        )

    out = state(t.read(), "pre_dedup")
    cur = t.read()
    keepers = cur.groupBy("content_md5").agg(
        F.min("doc_id").alias("_keep_id")
    )
    losers = (
        cur.join(keepers, "content_md5")
        .filter(F.col("doc_id") != F.col("_keep_id"))
        .select("doc_id")
    )
    files_before = set(t.snapshot().files)
    t.delete_keys_mor(losers, ["doc_id"])
    snap = t.snapshot()
    # merge-on-read = the commit WROTE no parquet: losers became
    # vectors, and a file whose live rows ALL lost is removed
    # outright (also metadata-only — cheaper than a full-file DV)
    mor_no_rewrite = int(
        not (set(snap.files) - files_before)
        and bool(snap.dvs or (files_before - set(snap.files)))
    )
    out = out.unionByName(state(t.read(), "post_dedup"))
    mode = refresh_rollup(
        t, silver, prepare, ["lang"], ["n_chars"], app_id="g"
    )
    out = out.unionByName(
        silver.read().select(
            F.lit("silver").alias("stage"),
            "lang",
            F.col("n_rows").alias("n"),
            F.col("sum_n_chars").cast("long").alias("sum_n_chars"),
        )
    )
    flags = spark.createDataFrame(
        [
            ("flags", "mor_no_rewrite", mor_no_rewrite, 0),
            (
                "flags",
                "mode_incremental_cdf",
                int(mode == "incremental_cdf"),
                0,
            ),
        ],
        "stage string, lang string, n long, sum_n_chars long",
    )
    return out.unionByName(flags)


def _auto_maintenance_oracle() -> str:
    """Post-maintenance state = documents minus the MoR-deleted keys
    (doc_id%5==0); everything else is decision/invariant flags the
    policy engine must hit exactly."""
    return """
    SELECT 'post_maintenance' AS probe,
           count(*)::BIGINT AS n,
           sum(doc_id)::BIGINT AS sum_doc_id,
           sum(n_chars)::BIGINT AS sum_n_chars
    FROM documents WHERE doc_id % 5 <> 0
    UNION ALL
    SELECT 'plan_flags', 1::BIGINT, 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'post_flags', 1::BIGINT, 1::BIGINT, 1::BIGINT
    """


@audit("lakehouse_auto_maintenance_audit", oracle=_auto_maintenance_oracle())
def lakehouse_auto_maintenance_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """Threshold-driven AUTO-MAINTENANCE under the driver gate
    (``operators/maintenance.py``): the policy engine inspects a
    table's state via manifest/footer metadata only and triggers
    exactly the maintenance the state calls for — Delta's
    auto-optimize/auto-compact shape, complementing the streaming
    sinks' every-N-batches cadence.

    Lifecycle: a documents table fragmented across 16 one-file commits
    (create %16==0, append each other residue), then a merge-on-read
    delete of doc_id%5==0 (every file ends up ~20% soft-deleted).
    ``plan_maintenance`` must trip ALL THREE triggers — fragmentation
    (16 small files), DV burden (>=15% dead rows), history (17
    versions > 3) — gated by ``plan_flags``. ``auto_maintain`` then
    compacts (vectors purged, file count down) and vacuums (orphaned
    pre-compact files swept), gated by ``post_flags``; the surviving
    rows must equal the oracle's recomputation exactly.

    Scale: the DECISION is one ``stat`` per live file plus manifest
    reads — runnable every orchestrator tick on a 10^6-file table; the
    REWRITE is proportional to fragmentation + DV burden, never the
    table. This is the nightly-maintenance loop a 100 TB self-managed
    lakehouse needs (the reference delegates it to Snowflake's
    auto-clustering behind ``04_sales_enrich_sp.sql``'s overwrite).
    """
    from ..operators.maintenance import (
        MaintenancePolicy,
        auto_maintain,
        plan_maintenance,
    )
    from ..sources.lakehouse import SnapshotTable

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t = SnapshotTable(spark, os.path.join(tmp, "t"))
    t.create(docs.filter(F.col("doc_id") % 16 == 0).coalesce(1))
    for i in range(1, 16):
        t.append(docs.filter(F.col("doc_id") % 16 == i).coalesce(1))
    t.delete_mor(F.col("doc_id") % 5 == 0)

    policy = MaintenancePolicy(
        small_file_bytes=32 << 20,
        min_small_files=8,
        dv_fraction=0.15,
        max_history=3,
        vacuum_retain_last=1,
        orphan_grace_ms=0,
    )
    plan = plan_maintenance(t, policy)
    plan_flags = (
        int(plan["compact"] is not None),
        int(any("dv burden" in r for r in plan["reasons"])),
        int(plan["vacuum"] is not None),
    )
    files_before = len(t.snapshot().files)
    report = auto_maintain(t, policy)
    snap = t.snapshot()
    post_flags = (
        int(not snap.dvs),  # vectors purged by the rewrite
        int(len(snap.files) < files_before),
        int(report.get("vacuumed_files", 0) > 0),
    )
    out = t.read().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
        F.sum("n_chars").cast("long").alias("sum_n_chars"),
    ).select(
        F.lit("post_maintenance").alias("probe"),
        "n", "sum_doc_id", "sum_n_chars",
    )
    flags = spark.createDataFrame(
        [("plan_flags", *plan_flags), ("post_flags", *post_flags)],
        "probe string, n long, sum_doc_id long, sum_n_chars long",
    )
    return out.unionByName(flags)


def _multi_table_txn_oracle() -> str:
    """Catalog states around a two-table transaction: pre = fact holds
    events %2==0 and summary its per-type rollup; post = both moved to
    the full-events state in ONE catalog commit. Flags pin mid-stage
    invisibility, the conflict refusal, and post-conflict stability."""
    return """
    SELECT 'pre_fact' AS probe,
           count(*)::BIGINT AS n, sum(event_id)::BIGINT AS agg
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT 'pre_summary',
           count(DISTINCT event_type)::BIGINT, count(*)::BIGINT
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT 'post_fact', count(*)::BIGINT, sum(event_id)::BIGINT
    FROM events
    UNION ALL
    SELECT 'post_summary',
           count(DISTINCT event_type)::BIGINT, count(*)::BIGINT
    FROM events
    UNION ALL
    SELECT 'staged_invisible', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'conflict_refused', 1::BIGINT, 1::BIGINT
    """


@audit("lakehouse_multi_table_txn_audit", oracle=_multi_table_txn_oracle())
def lakehouse_multi_table_txn_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """MULTI-TABLE TRANSACTIONS under the driver gate
    (``sources/txn_catalog.py``): cross-table atomicity via a pinned
    catalog — writers stage real table versions (durable, unpinned),
    one catalog CAS swaps every touched pin, readers resolving through
    the pins see all of a transaction or none of it. This is the
    Iceberg REST-catalog multi-table commit design; neither Delta nor
    Iceberg table logs alone provide it.

    Lifecycle: fact (events %2==0) + summary (its per-type rollup)
    registered in a catalog; a transaction appends %2==1 to fact AND
    overwrites summary with the full-events rollup. ``staged_invisible``
    pins that after BOTH stages land in the table logs, catalog reads
    still serve the old pins (fact count and summary total unchanged);
    the post-commit states must hash-match DuckDB. A second transaction
    that staged on the fact meanwhile must refuse at commit
    (``conflict_refused``) with both its tables' pins unmoved.

    Scale: the transaction pays its own staged writes plus ONE extra
    JSON publish (the catalog CAS, O(#tables) bytes) — cross-table
    atomicity at 100 TB costs metadata, not data. The reference's DAG
    refreshes CUSTOMER + PRODUCT_SALES as separate overwrites
    (``05_task_DAG.sql:9-19``) and relies on Snowflake transactions to
    keep dashboards consistent; this catalog is that guarantee,
    self-managed.
    """
    from ..sources.lakehouse import SnapshotTable
    from ..sources.txn_catalog import PinnedCatalog, TransactionConflict

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    rollup = lambda df: df.groupBy("event_type").agg(  # noqa: E731
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cat = PinnedCatalog(spark, os.path.join(tmp, "cat"))
    fact = SnapshotTable(spark, os.path.join(tmp, "fact"))
    fact.create(ev.filter(F.col("event_id") % 2 == 0))
    summ = SnapshotTable(spark, os.path.join(tmp, "summary"))
    summ.create(rollup(ev.filter(F.col("event_id") % 2 == 0)))
    cat.register("fact", fact.path)
    cat.register("summary", summ.path)

    def fact_stats(df, probe):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("agg"),
        ).select(F.lit(probe).alias("probe"), "n", "agg")

    def summ_stats(df, probe):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cnt").cast("long").alias("agg"),
        ).select(F.lit(probe).alias("probe"), "n", "agg")

    out = fact_stats(cat.read("fact"), "pre_fact").unionByName(
        summ_stats(cat.read("summary"), "pre_summary")
    )

    pre_n_fact = cat.read("fact").count()
    pre_total = (
        cat.read("summary").agg(F.sum("cnt")).collect()[0][0]
    )
    txn = cat.transaction()
    txn.table("fact").append(ev.filter(F.col("event_id") % 2 == 1))
    txn.table("summary").overwrite(rollup(ev))
    staged_invisible = int(
        cat.read("fact").count() == pre_n_fact
        and cat.read("summary").agg(F.sum("cnt")).collect()[0][0]
        == pre_total
    )
    # a rival stages on fact while txn holds the old pins
    rival = cat.transaction()
    txn.commit()
    rival.table("fact").append(ev.limit(1))
    conflict_refused = 0
    try:
        rival.commit()
    except TransactionConflict:
        conflict_refused = int(
            cat.read("fact").count() == ev.count()
        )  # and the committed state did not move

    out = out.unionByName(
        fact_stats(cat.read("fact"), "post_fact")
    ).unionByName(summ_stats(cat.read("summary"), "post_summary"))
    flags = spark.createDataFrame(
        [
            ("staged_invisible", staged_invisible, staged_invisible),
            ("conflict_refused", conflict_refused, conflict_refused),
        ],
        "probe string, n long, agg long",
    )
    return out.unionByName(flags)


def _tag_retention_oracle() -> str:
    """Tag-pinned snapshot (events %3 in (0,1)) + post-overwrite head
    (%5=0 slice) survive a retain_last=1 vacuum; flags pin the expired
    neighbors' refusal, the gap-kept delta's materialization, and the
    release-on-drop."""
    return """
    SELECT 'tag_read' AS probe,
           count(*)::BIGINT AS n, sum(event_id)::BIGINT AS agg
    FROM events WHERE event_id % 3 IN (0, 1)
    UNION ALL
    SELECT 'head_read', count(*)::BIGINT, sum(event_id)::BIGINT
    FROM events WHERE event_id % 5 = 0
    UNION ALL
    SELECT 'expired_refused', 2::BIGINT, 2::BIGINT
    UNION ALL
    SELECT 'gap_materialized', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'released_after_drop', 1::BIGINT, 1::BIGINT
    """


@audit("lakehouse_tag_retention_audit", oracle=_tag_retention_oracle())
def lakehouse_tag_retention_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """Named TAGS (Iceberg-style refs) under the driver gate
    (``sources/lakehouse.py:create_tag`` / ``vacuum(keep_versions)``):
    a tagged version and every file it references survive ANY
    ``retain_last`` horizon — the vacuum-proof audit/repro anchor a
    100 TB table needs ("the snapshot model v7 trained on") at O(1)
    metadata instead of Delta's table-sized CLONE.

    Lifecycle: create (%3==0) -> append (%3==1) -> append (%3==2) ->
    overwrite (%5==0), tag v2, ``vacuum(retain_last=1)``. The tagged
    read must equal DuckDB's recomputation of the first two loads;
    both untagged neighbors (v1, v3) must refuse; v2 — a DELTA
    manifest whose base v1 dropped — must have been materialized full
    (``gap_materialized``: resolvable with its commit delta intact);
    dropping the tag releases the hold at the next vacuum
    (``released_after_drop``: only the head remains).

    Scale: the tag is one JSON sidecar; vacuum's keep-set union is
    O(#tags) metadata. Reference anchor: the reference's permanent
    vs transient table tiers (``1_env_setup.sql:7-14``) — retention
    policy as a first-class, named object."""
    from ..sources.lakehouse import SnapshotTable

    ev = _t(spark, sf_dir, "events").select("event_id")
    t = SnapshotTable(spark, os.path.join(tmp, "t"))
    t.create(ev.filter(F.col("event_id") % 3 == 0))
    t.append(ev.filter(F.col("event_id") % 3 == 1))   # v2 (delta)
    t.append(ev.filter(F.col("event_id") % 3 == 2))   # v3
    t.overwrite(ev.filter(F.col("event_id") % 5 == 0))  # v4
    t.create_tag("audit-hold", version=2)
    t.vacuum(retain_last=1, orphan_grace_ms=0)

    def agg(df, probe):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("agg"),
        ).select(F.lit(probe).alias("probe"), "n", "agg")

    # materialize the probes BEFORE the tag drop: the second vacuum
    # deletes v2's files, and a lazy plan would re-read them
    out = (
        agg(t.read(tag="audit-hold"), "tag_read")
        .unionByName(agg(t.read(), "head_read"))
        .localCheckpoint(eager=True)
    )
    refused = 0
    for v in (1, 3):
        try:
            t.read(version=v)
        except LookupError:
            refused += 1
    raw2 = t._raw(2)
    gap_ok = int(
        "base_version" not in raw2
        and bool(raw2.get("files"))
        and bool(raw2.get("add"))  # commit delta survived the rewrite
    )
    t.drop_tag("audit-hold")
    t.vacuum(retain_last=1, orphan_grace_ms=0)
    released = int(t._versions() == [4])
    flags = spark.createDataFrame(
        [
            ("expired_refused", refused, refused),
            ("gap_materialized", gap_ok, gap_ok),
            ("released_after_drop", released, released),
        ],
        "probe string, n long, agg long",
    )
    return out.unionByName(flags)


def _txn_medallion_oracle() -> str:
    """Silver (per-type rollup of events) and gold (its one-row total)
    after each transactional tick; ticks never tear the pair. t1 =
    %2==0 bronze; t2 = all events (through an abandoned-stager repair);
    t3 = after a GDPR delete of user_id % 7 == 3 rows."""
    return """
    SELECT 't1_silver' AS probe,
           count(DISTINCT event_type)::BIGINT AS n,
           sum(event_id)::BIGINT AS agg
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT 't1_gold', 1::BIGINT, sum(event_id)::BIGINT
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT 't2_silver', count(DISTINCT event_type)::BIGINT,
           sum(event_id)::BIGINT
    FROM events
    UNION ALL
    SELECT 't2_gold', 1::BIGINT, sum(event_id)::BIGINT FROM events
    UNION ALL
    SELECT 't3_silver', count(DISTINCT event_type)::BIGINT,
           sum(event_id)::BIGINT
    FROM events WHERE user_id % 7 <> 3
    UNION ALL
    SELECT 't3_gold', 1::BIGINT, sum(event_id)::BIGINT
    FROM events WHERE user_id % 7 <> 3
    UNION ALL
    SELECT 'history_silver', count(DISTINCT event_type)::BIGINT,
           sum(event_id)::BIGINT
    FROM events
    UNION ALL
    SELECT 'staged_invisible', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'modes_claimed', 1::BIGINT, 1::BIGINT
    """


@audit("lakehouse_txn_medallion_audit", oracle=_txn_medallion_oracle())
def lakehouse_txn_medallion_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """TRANSACTION-SCOPED medallion refresh under the driver gate
    (``plans/txn_refresh.py``): silver and gold move in ONE catalog
    CAS — a reader can never pair a new silver with a stale gold. The
    reference's DAG refreshes its processed tables as separate
    Snowflake statements and leans on Snowflake's catalog for
    consistency (``05_task_DAG.sql:9-25``); this is that guarantee,
    self-managed, with the idempotency stamps riding the SAME CAS
    (catalog-level ``txn_seen``, because a staged-but-unpinned table
    stamp is not committed truth).

    Lifecycle: tick1 (bronze = events %2==0, full/full) -> bronze
    grows to all events, a rival stager stages silver and ABANDONS
    (``staged_invisible``: catalog still serves the t1 pair) -> tick2
    auto-repairs the wedged log and folds incrementally -> a GDPR
    delete (``delete_mor`` of user_id%7==3) flows through tick3 as
    ``incremental_cdf`` (``modes_claimed`` pins every tick's claimed
    mode). ``history_silver`` reads the t2 silver through CATALOG
    time travel after t3 committed — cross-table-consistent history
    no per-table log can give.

    Scale: each tick costs the incremental-rollup model (O(files the
    range touched)) + one O(#tables) CAS; repair is one rollback
    commit + one CAS."""
    from ..plans.txn_refresh import RollupSpec, refresh_medallion_txn
    from ..sources.lakehouse import SnapshotTable
    from ..sources.txn_catalog import PinnedCatalog

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    silver_spec = RollupSpec(
        prepare=lambda df: df.select("event_type", "event_id"),
        group_cols=["event_type"],
        sum_cols=["event_id"],
    )
    gold_spec = RollupSpec(
        prepare=lambda df: df.select(
            F.lit("all").alias("g"), F.col("sum_event_id").alias("sv")
        ),
        group_cols=["g"],
        sum_cols=["sv"],
    )
    bronze = SnapshotTable(spark, os.path.join(tmp, "bronze"))
    bronze.create(ev.filter(F.col("event_id") % 2 == 0))
    cat = PinnedCatalog(spark, os.path.join(tmp, "cat"))
    cat.register("silver", os.path.join(tmp, "silver"))
    cat.register("gold", os.path.join(tmp, "gold"))

    def silver_probe(probe, catalog_version=None):
        return cat.read("silver", catalog_version).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("sum_event_id").cast("long").alias("agg"),
        ).select(F.lit(probe).alias("probe"), "n", "agg")

    def gold_probe(probe):
        return cat.read("gold").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("sum_sv").cast("long").alias("agg"),
        ).select(F.lit(probe).alias("probe"), "n", "agg")

    r1 = refresh_medallion_txn(
        cat, bronze, "silver", "gold", silver_spec, gold_spec
    )
    out = silver_probe("t1_silver").unionByName(gold_probe("t1_gold"))
    t1_total = cat.read("gold").collect()[0].sum_sv

    bronze.append(ev.filter(F.col("event_id") % 2 == 1))
    ghost = cat.transaction()
    from ..operators.rollup import refresh_rollup

    refresh_rollup(
        bronze,
        ghost.table("silver"),
        silver_spec.prepare,
        silver_spec.group_cols,
        silver_spec.sum_cols,
        app_id="medallion_txn:silver",
        since=cat.last_committed_batch("medallion_txn:silver"),
    )
    staged_invisible = int(
        cat.read("gold").collect()[0].sum_sv == t1_total
    )
    ghost.abandon()
    r2 = refresh_medallion_txn(
        cat, bronze, "silver", "gold", silver_spec, gold_spec
    )
    out = out.unionByName(silver_probe("t2_silver")).unionByName(
        gold_probe("t2_gold")
    )
    cat_v2 = cat.state()["version"]

    bronze.delete_mor(F.col("user_id") % 7 == 3)
    r3 = refresh_medallion_txn(
        cat, bronze, "silver", "gold", silver_spec, gold_spec
    )
    out = (
        out.unionByName(silver_probe("t3_silver"))
        .unionByName(gold_probe("t3_gold"))
        .unionByName(
            silver_probe("history_silver", catalog_version=cat_v2)
        )
    )
    modes_ok = int(
        (r1["silver"], r1["gold"]) == ("full", "full")
        and r2["silver"] == "incremental"
        and r3["silver"] == "incremental_cdf"
        and r3["catalog_version"] is not None
    )
    flags = spark.createDataFrame(
        [
            ("staged_invisible", staged_invisible, staged_invisible),
            ("modes_claimed", modes_ok, modes_ok),
        ],
        "probe string, n long, agg long",
    )
    return out.unionByName(flags)


def _merge_when_oracle() -> str:
    """Conditional-MERGE final state, recomputed relationally: target =
    events %3==0; source = events %4==0 with user_id+1000; matched
    rows update (user += s.user) when s.user is even, else delete when
    s.user % 5 == 0, else carry; unmatched source rows insert."""
    return """
    WITH t0 AS (
        SELECT event_id, user_id FROM events WHERE event_id % 3 = 0
    ),
    s AS (
        SELECT event_id, user_id + 1000 AS su
        FROM events WHERE event_id % 4 = 0
    ),
    m AS (
        SELECT t0.event_id,
               CASE WHEN s.event_id IS NOT NULL AND s.su % 2 = 0
                    THEN t0.user_id + s.su ELSE t0.user_id END AS user_id,
               CASE WHEN s.event_id IS NOT NULL AND s.su % 2 <> 0
                         AND s.su % 5 = 0
                    THEN 1 ELSE 0 END AS dropped
        FROM t0 LEFT JOIN s USING (event_id)
    ),
    final AS (
        SELECT event_id, user_id FROM m WHERE dropped = 0
        UNION ALL
        SELECT s.event_id, s.su FROM s LEFT JOIN t0 USING (event_id)
        WHERE t0.event_id IS NULL
    )
    SELECT 'final_users' AS probe,
           count(*)::BIGINT AS n, sum(user_id)::BIGINT AS agg FROM final
    UNION ALL
    SELECT 'final_events', count(*)::BIGINT, sum(event_id)::BIGINT
    FROM final
    """


@audit("lakehouse_merge_when_audit", oracle=_merge_when_oracle())
def lakehouse_merge_when_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """CONDITIONAL MERGE under the driver gate
    (``sources/lakehouse.py:merge_when``): the full MERGE INTO clause
    set — WHEN MATCHED AND cond THEN UPDATE SET (expressions over BOTH
    sides), WHEN MATCHED AND cond THEN DELETE, WHEN NOT MATCHED THEN
    INSERT — arbitrated in one projection inside :meth:`merge`'s
    COW file-granular rewrite (only files holding matched keys move).
    The reference's enrich MERGE (``04_sales_enrich_sp.sql:22``) is the
    unconditional special case; conditional clauses are what CDC feeds
    with business rules (update-if-newer, delete-if-tombstone) need.

    One commit: target (events %3==0, key event_id) merged with source
    (events %4==0, user_id+1000) — update (user += s.user) when s.user
    even, delete when s.user %5==0, insert unmatched. Final state
    hash-gated against DuckDB's CASE-based recompute."""
    from ..sources.lakehouse import SnapshotTable

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    t = SnapshotTable(spark, os.path.join(tmp, "t"))
    t.create(ev.filter(F.col("event_id") % 3 == 0))
    src = ev.filter(F.col("event_id") % 4 == 0).select(
        "event_id", (F.col("user_id") + 1000).alias("user_id")
    )
    t.merge_when(
        src,
        ["event_id"],
        matched_update={
            "user_id": F.col("t.user_id") + F.col("s.user_id")
        },
        matched_update_cond=F.col("s.user_id") % 2 == 0,
        matched_delete_cond=F.col("s.user_id") % 5 == 0,
    )
    out = t.read().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("user_id").cast("long").alias("agg"),
    ).select(F.lit("final_users").alias("probe"), "n", "agg")
    out2 = t.read().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("event_id").cast("long").alias("agg"),
    ).select(F.lit("final_events").alias("probe"), "n", "agg")
    return out.unionByName(out2)


def _branch_merge_oracle() -> str:
    """Branch lifecycle over the events table: fork at the %3==0 base,
    branch deletes %5==0 rows then appends the %3==1 slice, main
    appends the %3==2 slice meanwhile — the squash merge folds both
    sides. Flags pin branch isolation, the conflict refusal on a
    same-file double-rewrite, and the ref release."""
    return """
    SELECT 'main_pre_merge' AS probe,
           count(*)::BIGINT AS n, sum(event_id)::BIGINT AS agg
    FROM events WHERE event_id % 3 IN (0, 2)
    UNION ALL
    SELECT 'branch_pre_merge', count(*)::BIGINT, sum(event_id)::BIGINT
    FROM events
    WHERE (event_id % 3 = 0 AND event_id % 5 <> 0) OR event_id % 3 = 1
    UNION ALL
    SELECT 'post_merge', count(*)::BIGINT, sum(event_id)::BIGINT
    FROM events
    WHERE (event_id % 3 = 0 AND event_id % 5 <> 0)
       OR event_id % 3 IN (1, 2)
    UNION ALL
    SELECT 'conflict_refused', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'ref_released', 1::BIGINT, 1::BIGINT
    """


@audit("lakehouse_branch_merge_audit", oracle=_branch_merge_oracle())
def lakehouse_branch_merge_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """Writable BRANCH refs + squash merge-back under the driver gate
    (``sources/lakehouse.py:create_branch``/``merge_branch`` — the
    movable twin of r11's tags; Iceberg/Nessie's branch model): fork a
    zero-copy clone, mutate it with the full COW/MoR surface while
    main keeps moving, then publish the NET delta back as one commit
    through the same ``commute_ok`` rebase machinery data commits use.

    Lifecycle: create (%3==0) -> branch "exp" -> branch deletes
    %5==0 rows (COW rewrite of fork files) and appends the %3==1
    slice; main appends the %3==2 slice meanwhile (disjoint files, so
    the merge REBASES rather than refuses). Probes: main before the
    merge (branch invisible), the branch head, and main after
    (both sides' edits folded). ``conflict_refused`` then pins the
    refusal path on a second, single-file table where BOTH sides
    rewrite the same file — :class:`BranchMergeConflict` must fire
    with main unmoved and the branch intact. ``ref_released`` pins
    that the merge dropped the ref (vacuum's fork hold ends) while
    the refused branch's ref survives for the manual rebase.

    Scale: branch = one JSON ref + one clone manifest (no data moves);
    merge = O(branch delta) metadata + O(intervening commits) conflict
    reads. Reference anchor: iterating on CURATED.PRODUCT_SALES
    without touching the DAG's serving copy
    (``04_sales_enrich_sp.sql:61``)."""
    from ..sources.lakehouse import BranchMergeConflict, SnapshotTable

    ev = _t(spark, sf_dir, "events").select("event_id")
    t = SnapshotTable(spark, os.path.join(tmp, "t"))
    t.create(ev.filter(F.col("event_id") % 3 == 0))
    br = t.create_branch("exp")
    br.delete(F.col("event_id") % 5 == 0)
    br.append(ev.filter(F.col("event_id") % 3 == 1))
    t.append(ev.filter(F.col("event_id") % 3 == 2))

    def agg(df, probe):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("agg"),
        ).select(F.lit(probe).alias("probe"), "n", "agg")

    out = agg(t.read(), "main_pre_merge").unionByName(
        agg(br.read(), "branch_pre_merge")
    )
    t.merge_branch("exp")
    out = out.unionByName(agg(t.read(), "post_merge"))
    ref_released = int("exp" not in t.branches())

    # refusal path: ONE file, both sides rewrite it
    c = SnapshotTable(spark, os.path.join(tmp, "c"))
    c.create(
        ev.filter(F.col("event_id") % 100 == 0).coalesce(1)
    )
    bad = c.create_branch("bad")
    bad.delete(F.col("event_id") % 200 == 0)
    c.delete(F.col("event_id") % 200 == 100)
    pre = c.read().count()
    conflict_refused = 0
    try:
        c.merge_branch("bad")
    except BranchMergeConflict:
        conflict_refused = int(
            c.read().count() == pre  # main unmoved
            and "bad" in c.branches()  # ref intact for the rebase
            and bad.read().count() > 0  # branch still readable
        )
    flags = spark.createDataFrame(
        [
            ("conflict_refused", conflict_refused, conflict_refused),
            ("ref_released", ref_released, ref_released),
        ],
        "probe string, n long, agg long",
    )
    return out.unionByName(flags)


def _txn_chain_stream_oracle() -> str:
    """Silver (per-type rollup) + gold (its one-row total) after each
    drained range of the streaming transactional chain; flags pin the
    per-commit CAS granularity, the checkpoint-loss replay no-op, and
    the never-torn cross-layer invariant across ALL catalog history."""
    return """
    SELECT 't1_silver' AS probe,
           count(DISTINCT event_type)::BIGINT AS n,
           sum(event_id)::BIGINT AS agg
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT 't1_gold', 1::BIGINT, sum(event_id)::BIGINT
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT 't2_silver', count(DISTINCT event_type)::BIGINT,
           sum(event_id)::BIGINT
    FROM events
    UNION ALL
    SELECT 't2_gold', 1::BIGINT, sum(event_id)::BIGINT FROM events
    UNION ALL
    SELECT 't3_silver', count(DISTINCT event_type)::BIGINT,
           sum(event_id)::BIGINT
    FROM events WHERE user_id % 7 <> 3
    UNION ALL
    SELECT 't3_gold', 1::BIGINT, sum(event_id)::BIGINT
    FROM events WHERE user_id % 7 <> 3
    UNION ALL
    SELECT 'cas_per_range', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'replay_noop', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'never_torn', 1::BIGINT, 1::BIGINT
    """


@audit("streaming_txn_chain_audit", oracle=_txn_chain_stream_oracle())
def streaming_txn_chain_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """STREAMING multi-table transactional chain under the driver gate
    (``plans/txn_refresh.py:maintain_chain_stream`` — the composition
    the r11 verdict named next: ``ChangeFeedStream`` drains composed
    with the ``PinnedCatalog`` so a continuously-running medallion
    commits silver+gold per drained range in ONE catalog CAS).

    Lifecycle: bronze CREATE (events %2==0) -> drain (one tick: both
    layers full, one CAS) -> bronze APPEND (%2==1) -> drain
    (incremental through both layers, one CAS) -> checkpoint DELETED
    and the drain re-run — every replayed tick must abandon with NO
    catalog version spent, because the high-water lives in the
    catalog's ``txn_seen`` stamps, not the stream offset
    (``replay_noop``) -> bronze MoR DELETE (user_id%7==3) -> drain
    (the retraction folds as incremental_cdf through both layers).
    ``never_torn`` then proves the guarantee the composition exists
    for: at EVERY catalog version ever committed, cross-table
    time-travel reads of silver and gold agree on the total — no
    reader at any point in history could pair a new silver with a
    stale gold. ``cas_per_range`` pins exactly one catalog commit per
    drained range across the three effective ticks.

    Scale: per range, the incremental-rollup cost model per layer +
    one O(#tables) CAS; checkpoint loss costs one noop-tick sweep of
    the replayed ranges (metadata only). Reference anchor: the always-
    on dynamic-table form of the task DAG (``05_task_DAG.sql:9-25``)
    with Snowflake's cross-statement catalog consistency,
    self-managed."""
    from ..plans.txn_refresh import RollupSpec, maintain_chain_stream
    from ..sources.lakehouse import SnapshotTable
    from ..sources.txn_catalog import PinnedCatalog

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    silver_spec = RollupSpec(
        prepare=lambda df: df.select("event_type", "event_id"),
        group_cols=["event_type"],
        sum_cols=["event_id"],
    )
    gold_spec = RollupSpec(
        prepare=lambda df: df.select(
            F.lit("all").alias("g"),
            F.col("sum_event_id").alias("sv"),
        ),
        group_cols=["g"],
        sum_cols=["sv"],
    )
    layers = [("silver", silver_spec), ("gold", gold_spec)]
    cat = PinnedCatalog(spark, os.path.join(tmp, "cat"))
    bronze = SnapshotTable(spark, os.path.join(tmp, "bronze"))
    cat.register("silver", os.path.join(tmp, "silver"))
    cat.register("gold", os.path.join(tmp, "gold"))
    ckpt = os.path.join(tmp, "ckpt")
    bronze.create(ev.filter(F.col("event_id") % 2 == 0))
    ticks = []

    def probes(tag):
        s = cat.read("silver").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("sum_event_id").cast("long").alias("agg"),
        ).select(F.lit(f"{tag}_silver").alias("probe"), "n", "agg")
        g = cat.read("gold").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("sum_sv").cast("long").alias("agg"),
        ).select(F.lit(f"{tag}_gold").alias("probe"), "n", "agg")
        return s.unionByName(g).localCheckpoint(eager=True)

    ticks += maintain_chain_stream(cat, bronze, layers, ckpt)
    out = probes("t1")
    bronze.append(ev.filter(F.col("event_id") % 2 == 1))
    ticks += maintain_chain_stream(cat, bronze, layers, ckpt)
    out = out.unionByName(probes("t2"))

    # checkpoint loss: replayed ticks must spend NO catalog version
    cat_head = cat._versions()[-1]
    shutil.rmtree(ckpt)
    replayed = maintain_chain_stream(cat, bronze, layers, ckpt)
    replay_noop = int(
        all(r["catalog_version"] is None for r in replayed)
        and cat._versions()[-1] == cat_head
    )

    bronze.delete_mor(F.col("user_id") % 7 == 3)
    ticks += maintain_chain_stream(cat, bronze, layers, ckpt)
    out = out.unionByName(probes("t3"))

    cas_per_range = int(
        all(r["catalog_version"] is not None for r in ticks)
        and len({r["catalog_version"] for r in ticks}) == len(ticks)
    )
    # the composition's reason to exist: NO catalog state ever
    # pairs one layer's new state with the other's stale one
    torn = 0
    for v in cat._versions():
        try:
            sv = (
                cat.read("silver", catalog_version=v)
                .agg(F.sum("sum_event_id"))
                .collect()[0][0]
            )
            gv = (
                cat.read("gold", catalog_version=v)
                .agg(F.sum("sum_sv"))
                .collect()[0][0]
            )
        except (KeyError, LookupError, FileNotFoundError, ValueError):
            continue  # not registered / no committed pin at v
        if sv != gv:
            torn += 1
    never_torn = int(torn == 0)
    flags = spark.createDataFrame(
        [
            ("cas_per_range", cas_per_range, cas_per_range),
            ("replay_noop", replay_noop, replay_noop),
            ("never_torn", never_torn, never_torn),
        ],
        "probe string, n long, agg long",
    )
    return out.unionByName(flags)


def _catalog_branch_oracle() -> str:
    """Warehouse-branch lifecycle over events: fork at the %2==0 base
    (silver per-type rollup + gold total), diverge — the branch folds
    the %2==1 slice through a transactional tick while main appends a
    %100==7 slice to bronze only — merge back in one CAS. Flags pin
    branch isolation, the all-or-nothing conflict rollback, and the
    ref release."""
    return """
    SELECT 'main_pre_merge_gold' AS probe,
           1::BIGINT AS n, sum(event_id)::BIGINT AS agg
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT 'branch_gold', 1::BIGINT, sum(event_id)::BIGINT
    FROM events
    UNION ALL
    SELECT 'post_merge_gold', 1::BIGINT, sum(event_id)::BIGINT
    FROM events
    UNION ALL
    SELECT 'post_merge_silver', count(DISTINCT event_type)::BIGINT,
           sum(event_id)::BIGINT
    FROM events
    UNION ALL
    SELECT 'merge_one_cas', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'conflict_all_or_nothing', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'refs_released', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'branch_stream_tick', 1::BIGINT, 1::BIGINT
    """


@audit("lakehouse_catalog_branch_audit", oracle=_catalog_branch_oracle())
def lakehouse_catalog_branch_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """WAREHOUSE-level branches under the driver gate
    (``sources/txn_catalog.py:PinnedCatalog.create_branch`` /
    ``merge_branch`` — Nessie's catalog branch model, composed from
    r12's table branches + the multi-table transaction): fork every
    registered table at its PIN into a branch catalog, experiment with
    full transactional semantics there (its own pins, its own CAS
    lineage; branch writes land under each table's ``_branches/`` root
    so they can never wedge main's staged-lineage check), then publish
    every table's net merge in ONE main-catalog CAS.

    Lifecycle: bronze+silver+gold warehouse on the %2==0 slice ->
    ``create_branch`` -> the ALWAYS-ON streaming chain
    (``maintain_chain_stream``: checkpointed per-commit micro-batches
    over the branch bronze's log) runs ON THE BRANCH and folds the
    %2==1 slice through silver and gold — every drained range spends
    a BRANCH catalog CAS while main's catalog version never moves
    (``branch_stream_tick``; branch pins move, main's don't —
    ``main_pre_merge_gold`` proves isolation while ``branch_gold``
    reads the branch's committed pair) -> main appends a disjoint
    bronze slice meanwhile (commutes at file level) ->
    ``merge_branch`` -> all three tables expose in one catalog version
    (``merge_one_cas``). ``conflict_all_or_nothing`` then pins the
    abort path on a second warehouse where one table merges cleanly
    but another conflicts (both sides rewrote the same file): NO table
    may land — the staged clean merge is repaired away, content
    exactly as before, branch intact. ``refs_released`` pins that a
    committed merge drops the catalog ref and every per-table ref.

    Scale: fork = metadata only (one ref + clone manifest per table);
    merge = per-table net-delta metadata + one O(#tables) CAS.
    Reference anchor: trying a schema/enrichment change across the
    DAG's whole curated tier (``05_task_DAG.sql:9-25``) without
    touching the serving copies."""
    from ..plans.txn_refresh import (
        RollupSpec,
        maintain_chain_stream,
        refresh_chain_txn,
    )
    from ..sources.lakehouse import BranchMergeConflict, SnapshotTable
    from ..sources.txn_catalog import PinnedCatalog

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    silver_spec = RollupSpec(
        prepare=lambda df: df.select("event_type", "event_id"),
        group_cols=["event_type"],
        sum_cols=["event_id"],
    )
    gold_spec = RollupSpec(
        prepare=lambda df: df.select(
            F.lit("all").alias("g"), F.col("sum_event_id").alias("sv")
        ),
        group_cols=["g"],
        sum_cols=["sv"],
    )
    layers = [("silver", silver_spec), ("gold", gold_spec)]
    cat = PinnedCatalog(spark, os.path.join(tmp, "cat"))
    bronze = SnapshotTable(spark, os.path.join(tmp, "bronze"))
    bronze.create(ev.filter(F.col("event_id") % 2 == 0))
    cat.register("bronze", bronze.path)  # pins to bronze v1
    cat.register("silver", os.path.join(tmp, "silver"))
    cat.register("gold", os.path.join(tmp, "gold"))
    refresh_chain_txn(cat, bronze, layers, app_id="main_tick")

    def gold_probe(c, tag):
        return c.read("gold").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("sum_sv").cast("long").alias("agg"),
        ).select(F.lit(tag).alias("probe"), "n", "agg")

    bcat = cat.create_branch("exp")
    # the branch's OWN bronze gains the %2==1 slice, folded through
    # a transactional tick against the BRANCH catalog
    btxn = bcat.transaction()
    btxn.table("bronze").append(ev.filter(F.col("event_id") % 2 == 1))
    btxn.commit()
    # the branch tick is the ALWAYS-ON form: the streaming chain
    # drains the branch bronze's commit log (clone + append) as
    # checkpointed micro-batches against the BRANCH catalog —
    # every range spends a branch CAS, main's version never moves
    main_v_pre_tick = cat.state()["version"]
    ticks = maintain_chain_stream(
        bcat,
        bcat.table("bronze"),
        layers,
        os.path.join(tmp, "bckpt"),
        app_id="branch_tick",
    )
    branch_stream_tick = int(
        len(ticks) > 0
        and all(r["catalog_version"] is not None for r in ticks)
        and cat.state()["version"] == main_v_pre_tick
    )
    # main's bronze moves meanwhile (a plain append — commutes at
    # file level, so the merge REBASES instead of refusing; no tick
    # runs after it, so main's silver/gold probes are unaffected)
    mtxn = cat.transaction()
    mtxn.table("bronze").append(
        ev.filter(F.col("event_id") % 100 == 7)
    )
    mtxn.commit()

    out = gold_probe(cat, "main_pre_merge_gold").unionByName(
        gold_probe(bcat, "branch_gold")
    ).localCheckpoint(eager=True)

    v_before = cat.state()["version"]
    v = cat.merge_branch("exp")
    merge_one_cas = int(v == v_before + 1)
    refs_released = int(
        "exp" not in cat.branches()
        and "cat-exp" not in cat.table("silver").branches()
    )
    out = out.unionByName(
        gold_probe(cat, "post_merge_gold")
    ).unionByName(
        cat.read("silver")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("sum_event_id").cast("long").alias("agg"),
        )
        .select(F.lit("post_merge_silver").alias("probe"), "n", "agg")
    ).localCheckpoint(eager=True)

    # conflict warehouse: dim merges cleanly, fact conflicts
    c2 = PinnedCatalog(spark, os.path.join(tmp, "cat2"))
    c2.register("dim", os.path.join(tmp, "dim"))
    c2.register("fact", os.path.join(tmp, "fact"))
    t2 = c2.transaction()
    t2.table("dim").create(
        ev.filter(F.col("event_id") % 100 == 0).coalesce(1)
    )
    t2.table("fact").create(
        ev.filter(F.col("event_id") % 100 == 1).coalesce(1)
    )
    t2.commit()
    b2 = c2.create_branch("bad")
    bt2 = b2.transaction()
    bt2.table("dim").append(ev.filter(F.col("event_id") % 100 == 2))
    bt2.table("fact").delete(F.col("event_id") % 200 == 1)
    bt2.commit()
    m2 = c2.transaction()
    m2.table("fact").delete(F.col("event_id") % 200 == 101)
    m2.commit()
    dim_pre = c2.read("dim").count()
    fact_pre = c2.read("fact").count()
    all_or_nothing = 0
    try:
        c2.merge_branch("bad")
    except BranchMergeConflict:
        all_or_nothing = int(
            c2.read("dim").count() == dim_pre  # clean merge rolled back
            and c2.read("fact").count() == fact_pre
            and "bad" in c2.branches()  # intact for the rebase
        )
    flags = spark.createDataFrame(
        [
            ("merge_one_cas", merge_one_cas, merge_one_cas),
            (
                "conflict_all_or_nothing",
                all_or_nothing,
                all_or_nothing,
            ),
            ("refs_released", refs_released, refs_released),
            (
                "branch_stream_tick",
                branch_stream_tick,
                branch_stream_tick,
            ),
        ],
        "probe string, n long, agg long",
    )
    return out.unionByName(flags)


def _erase_oracle() -> str:
    """Post-erasure state: events minus the erased subject (user_id %
    11 == 5) and minus the pre-erase MoR delete (%13 == 2 rows stay
    deleted but their bytes are also gone); flags pin the byte-level
    sweep, the history expiry, the sidecar redaction, and the
    refs-block refusal."""
    return """
    SELECT 'final_state' AS probe,
           count(*)::BIGINT AS n, sum(event_id)::BIGINT AS agg
    FROM events WHERE user_id % 11 <> 5 AND user_id % 13 <> 2
    UNION ALL
    SELECT 'bytes_gone', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'history_expired', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'feed_redacted', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'refs_block', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'erase_rebranch', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'catalog_erase_repin', 1::BIGINT, 1::BIGINT
    """


@audit("lakehouse_erase_audit", oracle=_erase_oracle())
def lakehouse_erase_audit(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """RIGHT-TO-BE-FORGOTTEN erasure under the driver gate
    (``sources/lakehouse.py:erase_rows``): every physical trace of the
    subject's rows leaves the table directory — live files, DV-hidden
    pre-images (a row soft-deleted BEFORE the erase request, invisible
    to reads but bytes on disk), historical versions, and persisted
    change-feed sidecars (including the erase commit's own — the feed
    becomes deliberately lossy for the subject, the GDPR-over-CDF
    trade).

    Lifecycle: CDF-enabled table from events -> ``delete_mor``
    (user_id%13==2: DV-hidden pre-images now exist in data files AND
    in a change sidecar) -> ``erase_rows`` (user_id%11==5).
    ``final_state`` hash-gates the surviving rows; ``bytes_gone``
    raw-reads EVERY parquet under the table root (no manifest, no DV
    filter) and requires zero subject rows anywhere on disk;
    ``history_expired`` pins that only the erase version remains and
    old pins refuse; ``feed_redacted`` pins that the retained change
    feed still serves (the empty-list sentinel survives) with no
    subject rows; ``refs_block`` pins the refusal while a tag AND a
    live branch pin history (erasure must never be silently partial);
    ``erase_rebranch`` gates the full unblock lifecycle — drop refs,
    erase, re-branch — ending with a fresh fork that serves only
    post-erase state (an erase cannot be staged ON a branch: it would
    expire the fork manifest the merge diff needs, so drop-and-
    re-branch is the contract, now end-to-end); ``catalog_erase_repin``
    gates the catalog composition (``PinnedCatalog.erase_rows``: the
    same erasure with the pin moved to the erase commit in one CAS —
    no dangling pinned reads).

    Scale: one COW rewrite of subject-bearing files (raw-scan located)
    + one vacuum + O(retained sidecars) rewrites — proportional to the
    subject's footprint, never the table."""
    import glob as _glob

    from ..sources.lakehouse import SnapshotTable

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    t = SnapshotTable(spark, os.path.join(tmp, "t"), cdf=True)
    t.create(ev.filter(F.col("event_id") % 2 == 0))
    t.append(ev.filter(F.col("event_id") % 2 == 1))
    t.delete_mor(F.col("user_id") % 13 == 2)

    # refs block the erase until dropped: a tag AND a live branch
    # each pin history the erase would have to leave serving the
    # subject — and an erase CANNOT be staged on the branch itself
    # (erase_rows vacuums the branch to one version, expiring the
    # v1 fork manifest merge_branch needs), so the only honest
    # path is the one gated here: drop refs -> erase -> re-branch
    t.create_tag("hold")
    t.create_branch("exp")
    refs_block = 0
    try:
        t.erase_rows(F.col("user_id") % 11 == 5)
    except ValueError:
        refs_block = 1
    t.drop_tag("hold")
    t.drop_branch("exp")

    t.erase_rows(F.col("user_id") % 11 == 5)
    out = t.read().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("event_id").cast("long").alias("agg"),
    ).select(F.lit("final_state").alias("probe"), "n", "agg")

    files = _glob.glob(
        os.path.join(t.path, "**", "*.parquet"), recursive=True
    )
    raw = spark.read.option("mergeSchema", "true").parquet(*files)
    bytes_gone = int(
        raw.filter(F.col("user_id") % 11 == 5).limit(1).count() == 0
    )
    history_expired = int(len(t._versions()) == 1)
    head = t.snapshot().version
    feed = t.changes(head - 1, head)
    feed_redacted = int(
        feed.filter(F.col("user_id") % 11 == 5).limit(1).count() == 0
    )
    # re-branch AFTER the erase: experiments resume once erasure
    # lands, and the new fork must serve ONLY post-erase state —
    # no subject row through the branch read, fork pinned at the
    # erase head (the end-to-end unblock path, gated)
    br = t.create_branch("resume")
    erase_rebranch = int(
        br.read()
        .filter(F.col("user_id") % 11 == 5)
        .limit(1)
        .count()
        == 0
        and t.branches()["resume"]["fork_version"]
        == t.snapshot().version
    )

    # catalog-level erase (PinnedCatalog.erase_rows): the same
    # physical erasure with the PIN moved to the erase commit in
    # one CAS — pinned reads serve post-erase truth immediately
    from ..sources.txn_catalog import PinnedCatalog

    cat = PinnedCatalog(spark, os.path.join(tmp, "cat"))
    cat.register("t2", os.path.join(tmp, "t2"))
    ctxn = cat.transaction()
    ctxn.table("t2").create(ev.filter(F.col("event_id") % 3 == 0))
    ctxn.commit()
    rpt = cat.erase_rows("t2", F.col("user_id") % 11 == 5)
    t2 = cat.table("t2")
    catalog_erase_repin = int(
        rpt["catalog_version"] is not None
        and cat.read("t2")
        .filter(F.col("user_id") % 11 == 5)
        .limit(1)
        .count()
        == 0
        and cat.pin("t2") == t2.snapshot().version
        and len(t2._versions()) == 1
    )
    flags = spark.createDataFrame(
        [
            ("bytes_gone", bytes_gone, bytes_gone),
            ("history_expired", history_expired, history_expired),
            ("feed_redacted", feed_redacted, feed_redacted),
            ("refs_block", refs_block, refs_block),
            ("erase_rebranch", erase_rebranch, erase_rebranch),
            (
                "catalog_erase_repin",
                catalog_erase_repin,
                catalog_erase_repin,
            ),
        ],
        "probe string, n long, agg long",
    )
    return out.unionByName(flags)


def _delta_export_oracle() -> str:
    """Expected membership at each exported Delta version, recomputed
    by DuckDB from the ORIGINAL parquet (independent of both the
    writer and the audit's log fold): delta v0 = the created slice;
    head = both slices minus the COW delete. Structural probes are
    flag pins."""
    return """
    SELECT 'export_head' AS probe,
           count(*)::BIGINT AS n, sum(doc_id)::BIGINT AS agg
    FROM documents WHERE doc_id % 4 IN (0, 1) AND doc_id % 10 <> 3
    UNION ALL
    SELECT 'delta_v0_time_travel', count(*)::BIGINT, sum(doc_id)::BIGINT
    FROM documents WHERE doc_id % 4 = 0
    UNION ALL
    SELECT 'stats_exact', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'zero_copy', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'dv_refusal', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'vacuum_survival', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'compact_sync', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'rollback_head', count(*)::BIGINT, sum(doc_id)::BIGINT
    FROM documents WHERE doc_id % 4 = 2
    UNION ALL
    SELECT 'rollback_dv_refusal', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'column_map_export', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'delta_import_roundtrip', 1::BIGINT, 1::BIGINT
    UNION ALL
    SELECT 'checkpoint_fold', 1::BIGINT, 1::BIGINT
    """


@audit("lakehouse_delta_export_audit", oracle=_delta_export_oracle())
def lakehouse_delta_export_audit(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """OPEN-FORMAT INTEROP under the driver gate
    (``sources/delta_export.py``): a SnapshotTable exports as a
    spec-faithful Delta Lake transaction log (public PROTOCOL.md:
    newline-JSON protocol/metaData/add/remove actions, reader 1 /
    writer 2) with hard-linked data files, and incremental ``sync``
    replays the source history as Delta commits — the hand-off the
    reference performs via CTAS into its native warehouse format
    (code/ingest/3B2_load_pdf_to_text.sql:1,
    code/curate/04_sales_enrich_sp.sql:61), re-expressed as a log any
    engine ingests.

    Lifecycle: create (doc_id%4==0 slice) -> export (delta 0) ->
    append (%4==1) -> COW delete (doc_id%10==3) -> sync (2 delta
    commits). ``export_head`` hash-gates the rows a from-spec log fold
    (adds minus removes, URL-decoded paths) reads back at the Delta
    head; ``delta_v0_time_travel`` gates the fold at Delta version 0
    (the pre-append slice — Delta-side time travel replays the source
    history); ``stats_exact`` pins that the re-emitted per-file
    ``numRecords`` stats sum to the table's metadata-only row_count;
    ``zero_copy`` pins every exported data file is a hard link (>= 2
    links), not a copy; ``dv_refusal`` pins the honesty contract (a
    live deletion vector refuses: reader-1 Delta would resurrect its
    soft-deleted rows); ``vacuum_survival`` pins that a source-side
    compact + retention sweep cannot rot the export (the links keep
    the bytes alive); ``compact_sync`` pins OPTIMIZE semantics — a
    source compact replays as one Delta commit whose add/remove
    actions all carry ``dataChange: false`` (a Delta streaming
    consumer must not reprocess compacted rows) with the head fold
    unchanged; ``rollback_head`` gates the ROLLBACK sync path as a
    VALUE row — a source rollback replays as a replace-all Delta
    commit and the Delta head serves exactly the rolled-back slice
    DuckDB recomputes from the original parquet;
    ``rollback_dv_refusal`` pins the refusal twin — a rollback that
    re-adds files WITH live deletion vectors refuses sync (reader-1
    Delta would resurrect the soft-deleted rows) and the prescribed
    compact-then-re-export remedy round-trips exactly;
    ``column_map_export`` pins NAME-mode column mapping — a
    renamed/dropped-column table exports reader 2 / writer 5 with
    per-field ``delta.columnMapping.physicalName`` metadata and an
    independent mapped fold (bind physical, present logical)
    reproduces the logical view; ``delta_import_roundtrip`` pins the
    REVERSE direction — ``import_delta`` folds the mapped log back
    into a brand-new SnapshotTable (zero-copy links, mapping folded
    into ``column_map``, extras into ``dropped_cols``) whose logical
    view matches the original; ``checkpoint_fold`` pins the
    long-history path —
    a checkpoint parquet + ``_last_checkpoint`` is written, EVERY
    pre-checkpoint JSON commit is expired, and the checkpoint-seeded
    fold still reproduces the head exactly (Delta's bounded-fold
    contract, the twin of this format's own manifest checkpoints).

    Scale: export is O(files) metadata + hard links, zero data
    movement; sync is O(commit delta) per version — the same cost
    envelope as the table's own manifests."""
    import json as _json
    import re as _re
    from urllib.parse import unquote as _unquote

    from ..sources.delta_export import export_delta, sync_delta
    from ..sources.lakehouse import SnapshotTable

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    t = SnapshotTable(spark, os.path.join(tmp, "t"))
    t.create(docs.filter(F.col("doc_id") % 4 == 0))
    dst = os.path.join(tmp, "delta")
    export_delta(t, dst)
    t.append(docs.filter(F.col("doc_id") % 4 == 1))
    t.delete(F.col("doc_id") % 10 == 3)  # COW
    sync_delta(t, dst)

    def fold(version=None):
        live = {}
        logdir = os.path.join(dst, "_delta_log")
        for name in sorted(os.listdir(logdir)):
            if not _re.fullmatch(r"\d{20}\.json", name):
                continue
            if version is not None and int(name[:-5]) > version:
                continue
            with open(os.path.join(logdir, name)) as fh:
                for line in fh:
                    a = _json.loads(line)
                    if "add" in a:
                        live[_unquote(a["add"]["path"])] = a["add"]
                    if "remove" in a:
                        live.pop(_unquote(a["remove"]["path"]), None)
        return live

    def agg_of(live, probe):
        df = spark.read.parquet(
            *[os.path.join(dst, p) for p in live]
        )
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("doc_id").cast("long").alias("agg"),
        ).select(F.lit(probe).alias("probe"), "n", "agg")

    # ONE job computes the head aggregate; the gated row and the
    # vacuum_survival baseline both reuse the collected values
    # (the old shape scanned the exported files twice)
    head_live = fold()
    head_rows = agg_of(head_live, "export_head").collect()
    before = {r.probe: (r.n, r.agg) for r in head_rows}
    out = spark.createDataFrame(
        [(r.probe, r.n, r.agg) for r in head_rows],
        "probe string, n long, agg long",
    ).unionByName(agg_of(fold(version=0), "delta_v0_time_travel"))

    stats_exact = int(
        sum(
            _json.loads(a["stats"])["numRecords"]
            for a in head_live.values()
        )
        == t.row_count()
    )
    zero_copy = int(
        all(
            os.stat(os.path.join(dst, p)).st_nlink >= 2
            for p in head_live
        )
    )

    t2 = SnapshotTable(spark, os.path.join(tmp, "t2"))
    t2.create(docs.filter(F.col("doc_id") % 7 == 0))
    t2.delete_mor(F.col("doc_id") % 14 == 0)
    dv_refusal = 0
    try:
        export_delta(t2, os.path.join(tmp, "delta2"))
    except ValueError:
        dv_refusal = 1

    t.compact(target_files=1)
    t.vacuum(retain_last=1, orphan_grace_ms=0)
    after = {
        r.probe: (r.n, r.agg)
        for r in agg_of(fold(), "export_head").collect()
    }
    vacuum_survival = int(before == after)

    # rewrite-only sync: the source compact replays as ONE Delta
    # commit whose add/remove actions all carry dataChange: false
    # (OPTIMIZE semantics — a Delta streaming consumer must not
    # reprocess the compacted rows), and the head fold still
    # serves the same rows from the new layout
    sync_rpt = sync_delta(t, dst)
    dc_flags = []
    with open(
        os.path.join(
            dst, "_delta_log", f"{sync_rpt['delta_version']:020d}.json"
        )
    ) as fh:
        for line in fh:
            a = _json.loads(line)
            for k in ("add", "remove"):
                if k in a:
                    dc_flags.append(a[k]["dataChange"])
    post_compact = {
        r.probe: (r.n, r.agg)
        for r in agg_of(fold(), "export_head").collect()
    }
    compact_sync = int(
        sync_rpt["synced_versions"] == 1
        and len(dc_flags) >= 2
        and not any(dc_flags)
        and post_compact == before
    )

    # checkpoint + log expiry: the bounded-fold path a long-lived
    # export lives on — after EVERY pre-checkpoint JSON commit is
    # deleted, the checkpoint-seeded fold must still serve the head
    from ..sources.delta_export import (
        expire_delta_log,
        write_delta_checkpoint,
    )

    write_delta_checkpoint(dst)
    expired = expire_delta_log(dst)
    from ..sources.delta_export import _fold_state

    _, _, _, ck_live = _fold_state(dst)
    ck_agg = {
        r.probe: (r.n, r.agg)
        for r in agg_of(
            {_unquote(p): a for p, a in ck_live.items()}, "export_head"
        ).collect()
    }
    checkpoint_fold = int(expired >= 1 and ck_agg == before)

    # ROLLBACK sync, positive arm: a source rollback is a normal
    # replace-all commit to the sync — it replays as one Delta
    # commit re-adding the old files, and the Delta head then
    # serves exactly the rolled-back state (gated as a VALUE row
    # against DuckDB recomputing the original slice)
    t3 = SnapshotTable(spark, os.path.join(tmp, "t3"))
    t3.create(docs.filter(F.col("doc_id") % 4 == 2))  # v1
    dst3 = os.path.join(tmp, "delta3")
    export_delta(t3, dst3)
    t3.append(docs.filter(F.col("doc_id") % 4 == 3))  # v2
    sync_delta(t3, dst3)
    t3.rollback(1)  # v3: replace-all back to the created slice
    sync_delta(t3, dst3)

    def fold_of(dstp, version=None):
        live = {}
        logdir = os.path.join(dstp, "_delta_log")
        for name in sorted(os.listdir(logdir)):
            if not _re.fullmatch(r"\d{20}\.json", name):
                continue
            if version is not None and int(name[:-5]) > version:
                continue
            with open(os.path.join(logdir, name)) as fh:
                for line in fh:
                    a = _json.loads(line)
                    if "add" in a:
                        live[_unquote(a["add"]["path"])] = a["add"]
                    if "remove" in a:
                        live.pop(_unquote(a["remove"]["path"]), None)
        return live

    rb_live = fold_of(dst3)
    rollback_head = spark.read.parquet(
        *[os.path.join(dst3, p) for p in rb_live]
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("doc_id").cast("long").alias("agg"),
    ).select(F.lit("rollback_head").alias("probe"), "n", "agg")

    # ROLLBACK sync, refusal arm: a rollback that re-adds files
    # WITH live deletion vectors refuses (reader-1 Delta would
    # resurrect the soft-deleted rows — the DV delta excludes DVs
    # riding on added files by design), and the prescribed remedy
    # (compact to fold the vectors, re-export fresh) round-trips
    t4 = SnapshotTable(spark, os.path.join(tmp, "t4"))
    t4.create(docs.filter(F.col("doc_id") % 7 == 1))  # v1
    t4.delete_mor(F.col("doc_id") % 14 == 1)  # v2: DVs
    t4.compact(target_files=1)  # v3: folded, exportable
    dst4 = os.path.join(tmp, "delta4")
    export_delta(t4, dst4)
    t4.rollback(2)  # v4: re-adds v2's files WITH their vectors
    rb_refused = 0
    try:
        sync_delta(t4, dst4)
    except ValueError:
        rb_refused = 1
    t4.compact(target_files=1)  # remedy: fold the vectors...
    dst5 = os.path.join(tmp, "delta5")
    export_delta(t4, dst5)  # ...and re-export fresh
    r5 = fold_of(dst5)
    remedy = spark.read.parquet(
        *[os.path.join(dst5, p) for p in r5]
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("doc_id").cast("long").alias("agg"),
    ).collect()[0]
    direct = t4.read().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("doc_id").cast("long").alias("agg"),
    ).collect()[0]
    rollback_dv_refusal = int(
        rb_refused == 1 and (remedy.n, remedy.agg) == (direct.n, direct.agg)
    )

    # NAME-mode column mapping: a renamed/dropped-column table
    # exports reader 2 / writer 5 with per-field physicalName
    # metadata instead of refusing — an independent mapped fold
    # (bind by physical name, present logical) must reproduce the
    # table's logical view exactly
    t5 = SnapshotTable(spark, os.path.join(tmp, "t5"))
    t5.create(docs.filter(F.col("doc_id") % 9 == 0))
    t5.rename_column("doc_id", "document_id")
    t5.drop_column("source")
    dst6 = os.path.join(tmp, "delta6")
    export_delta(t5, dst6)
    md = None
    with open(
        os.path.join(dst6, "_delta_log", "0" * 20 + ".json")
    ) as fh:
        for line in fh:
            a = _json.loads(line)
            if "metaData" in a:
                md = a["metaData"]
            if "protocol" in a:
                proto5 = a["protocol"]
    sch5 = _json.loads(md["schemaString"])
    phys_of = {
        f["name"]: f["metadata"]["delta.columnMapping.physicalName"]
        for f in sch5["fields"]
    }
    m_live = fold_of(dst6)
    mapped = spark.read.parquet(
        *[os.path.join(dst6, p) for p in m_live]
    ).select(
        *[
            F.col(p).alias(l)
            for l, p in phys_of.items()
        ]
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("document_id").cast("long").alias("agg"),
    ).collect()[0]
    d5 = t5.read().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("document_id").cast("long").alias("agg"),
    ).collect()[0]
    column_map_export = int(
        md["configuration"].get("delta.columnMapping.mode") == "name"
        and proto5
        == {"minReaderVersion": 2, "minWriterVersion": 5}
        and sorted(f["name"] for f in sch5["fields"])
        == ["document_id"]
        and phys_of["document_id"] == "doc_id"
        and (mapped.n, mapped.agg) == (d5.n, d5.agg)
    )

    # REVERSE direction: the mapped export imports back as a new
    # SnapshotTable (zero-copy links, mapping folded into
    # column_map) whose logical view matches the original exactly
    from ..sources.delta_export import import_delta

    import_delta(spark, dst6, os.path.join(tmp, "t6"))
    t6 = SnapshotTable(spark, os.path.join(tmp, "t6"))
    i6 = t6.read().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("document_id").cast("long").alias("agg"),
    ).collect()[0]
    delta_import_roundtrip = int(
        t6.column_map == {"document_id": "doc_id"}
        and t6.dropped_cols == ["source"]
        and (i6.n, i6.agg) == (d5.n, d5.agg)
    )

    flags = spark.createDataFrame(
        [
            ("stats_exact", stats_exact, stats_exact),
            ("zero_copy", zero_copy, zero_copy),
            ("dv_refusal", dv_refusal, dv_refusal),
            ("vacuum_survival", vacuum_survival, vacuum_survival),
            ("compact_sync", compact_sync, compact_sync),
            ("rollback_dv_refusal", rollback_dv_refusal, rollback_dv_refusal),
            ("column_map_export", column_map_export, column_map_export),
            ("delta_import_roundtrip", delta_import_roundtrip, delta_import_roundtrip),
            ("checkpoint_fold", checkpoint_fold, checkpoint_fold),
        ],
        "probe string, n long, agg long",
    )
    return (
        out.unionByName(rollback_head)
        .unionByName(flags)
    )
