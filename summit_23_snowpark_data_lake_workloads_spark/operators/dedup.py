"""Deduplication operators for large-scale training-data pipelines.

Five tiers, all relational-first so Catalyst distributes them and the
DuckDB oracle can replay them exactly (hashes via the md5-based
portable_hash64):

- exact         — hash-groupBy on content (one shuffle).
- n-gram Jaccard— shingle self-join with exact similarity (quadratic in
                  docs-per-shingle; the verifier tier).
- MinHash + LSH — signature -> banded buckets -> candidate join -> exact
                  verify (the scale tier: candidates only, never all pairs).
- SimHash       — 32-bit fingerprint; equal-fingerprint or banded buckets.
- embedding     — cosine over ``array<float>`` (see operators.similarity).

Scale notes: every operator shuffles on content-derived keys (shingle,
band signature, fingerprint) — uniform by construction since they're
hashes; the explicit ``max_df`` knob drops degenerate stop-shingles that
would otherwise create join skew at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import registered_persist
from ..functions.scalar import portable_hash64
from ..functions.text import tokens

SIMHASH_BITS = 32


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup via hash-groupBy: one row per distinct content with the
    surviving (minimum) id and the duplicate count.

    Scale: group key is md5(text) — 16 bytes instead of the full document
    moves through the shuffle.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Exploded distinct word-n-gram shingles: (id, shingle).

    Built from the shuffle-free :func:`token_ngram_base` (arrays_zip
    over slice-shifted token arrays — native codegen expressions). NOT
    via ``transform``-style lambda HOFs: those evaluate interpreted
    (outside whole-stage codegen, no common-subexpr elimination), which
    re-runs the tokenizing split per shingle and costs ~10x at scale
    (measured: 12s -> <2s for 5k docs). The only shuffle left in this
    plan is the ``distinct`` itself.

    ``max_df`` drops shingles occurring in more than that many documents
    (stop-shingles): they contribute little discrimination but dominate
    self-join cost and create shuffle skew.
    """
    sh = _all_shingles(df, id_col, text_col, n).distinct()
    if max_df is not None:
        w2 = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_count"))
        sh = sh.join(F.broadcast(w2.filter(F.col("df_count") <= max_df)), "shingle").drop(
            "df_count"
        )
    return sh


def token_ngram_base(
    df: DataFrame, id_col: str, text_col: str, max_n: int
) -> DataFrame:
    """SHUFFLE-FREE tokenize producing (id, token, t1..t{max_n-1}) — the
    shared base from which every n-gram width up to ``max_n`` stitches
    for free.

    Formulation: ``arrays_zip`` over ``slice``-shifted copies of the
    token array, then one explode. ``arrays_zip`` null-pads shorter
    arrays, reproducing exactly what ``lead()`` windows emit at the
    document tail — but with NO ``partitionBy(id)`` shuffle: the whole
    construction is per-row codegen (zip/slice are native expressions,
    not interpreted lambda HOFs), so at 100 TB the tokenized corpus
    never moves across the network just to be shingled. (The previous
    window formulation shuffled the full exploded token table by id —
    the single largest intermediate in every text pipeline.)"""
    w = tokens(text_col)
    sz = F.size(w)
    # greatest(0, …): slice raises on negative length, and a document
    # shorter than max_n tokens must still emit its (null-padded) rows
    zipped = F.arrays_zip(
        *[F.slice(w, j + 1, F.greatest(F.lit(0), sz - j)) for j in range(max_n)]
    )
    return df.select(F.col(id_col).alias("id"), F.explode(zipped).alias("g")).select(
        "id",
        F.col("g.0").alias("token"),
        *[F.col(f"g.{j}").alias(f"t{j}") for j in range(1, max_n)],
    )


def ngrams_from_base(base: DataFrame, n: int) -> DataFrame:
    """Multiset n-grams (id, shingle) stitched from a
    :func:`token_ngram_base` built with ``max_n >= n``."""
    return base.filter(F.col(f"t{n - 1}").isNotNull()).select(
        "id",
        F.concat_ws(" ", "token", *[f"t{j}" for j in range(1, n)]).alias("shingle"),
    )


def _all_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Every shingle occurrence (WITH duplicates): (id, shingle). The
    multiset variant backing frequency reports; ``shingle_table`` is the
    distinct variant backing similarity."""
    return ngrams_from_base(token_ngram_base(df, id_col, text_col, n), n)


def _jaccard_for_pairs(pairs: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard restricted to given candidate (id_a, id_b) pairs —
    the verify stage shared by the LSH tiers. Never touches non-candidate
    pairs: cost is O(candidates x shingles-per-doc)."""
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.withColumnsRenamed({"id": "id_a", "shingle": "sh_a"})
    b = sh.withColumnsRenamed({"id": "b_id", "shingle": "sh_b"})
    inter = (
        pairs.join(a, "id_a")
        .join(b, (F.col("id_b") == F.col("b_id")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: (id_a, id_b, jaccard).

    Relational formulation: distinct shingles -> self-equi-join on shingle
    (id_a < id_b) -> intersection counts -> |A∩B| / (|A|+|B|-|A∩B|).
    The shingle join is an ordinary shuffle join — fully distributed, but
    quadratic in docs-per-shingle; at scale run it only on LSH candidates
    (see :func:`minhash_lsh_pairs`).

    ``shingles`` lets callers share one (ideally persisted) distinct
    shingle table — this plan reads it three times (both self-join sides
    plus the per-doc sizes).
    """
    sh = shingles if shingles is not None else shingle_table(df, id_col, text_col, n)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Long-form MinHash signatures: (id, seed, minhash).

    One md5 per shingle, then a universal-hash family mixes it per seed:
    ``h_i = (A_i * h31 + B_i) mod P`` with ``h31 = md5_hash % 2^31`` and
    ``A_i = 2*i + 3``, ``B_i = i * 12582917``, ``P = 2305843009213693951``
    (a Mersenne prime). Integer-only and overflow-free in 64 bits, so the
    DuckDB oracle reproduces every signature exactly — and it is ~12x
    cheaper than hashing seed:shingle strings through md5 per seed.

    ``shingles`` lets callers share one (possibly persisted) shingle table
    across the signature and verify branches instead of recomputing it.

    Plan shape (500k-doc scale-probe tuned): ONE wide aggregate — all
    ``num_hashes`` mins computed as separate aggregate expressions over
    the un-exploded shingle table, then unpivoted with ``stack`` back
    to the long (id, seed, minhash) contract. The earlier
    explode-the-seeds form shuffled |shingles| x num_hashes rows (270M
    at the probe scale) where this shuffles |shingles| with 12 min
    states each — measured 127s -> 42s, bit-identical output.
    """
    sh = shingles if shingles is not None else shingle_table(df, id_col, text_col, n)
    h31 = portable_hash64(F.col("shingle")) % F.lit(2**31)
    P = 2305843009213693951
    aggs = [
        F.min((F.lit(2 * i + 3) * h31 + F.lit(i * 12582917)) % F.lit(P)).alias(
            f"m{i}"
        )
        for i in range(num_hashes)
    ]
    stack = ", ".join(f"{i}, m{i}" for i in range(num_hashes))
    return (
        sh.groupBy("id")
        .agg(*aggs)
        .select(
            "id", F.expr(f"stack({num_hashes}, {stack}) AS (seed, minhash)")
        )
    )


def band_signatures(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Condense long-form signatures to (id, band, sig) band keys: the
    band's minhashes in seed order, '-'-joined.

    Formulated as conditional aggregates (one per in-band seed slot,
    exactly one row matches each) instead of collect_list + array_sort
    + a lambda transform: the latter plans as ObjectHashAggregate with
    per-group array state and an interpreted LambdaFunction, while this
    shape stays a codegen HashAggregate with fixed-width state —
    measured ~2x faster and the state is O(1) per group at any scale.
    Byte-equivalence to the pre-r15 collect_list formulation is pinned
    in tests/test_r15_optimizations.py. Single definition shared by
    ``minhash_lsh_pairs`` and the persisted-index probe path
    (operators/minhash_index.py), keeping their candidates identical.
    """
    rows_per_band = num_hashes // bands
    return (
        sig.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy("id", "band")
        .agg(
            F.concat_ws(
                "-",
                *[
                    F.max(
                        F.when(
                            F.col("seed") % rows_per_band == r, F.col("minhash")
                        )
                    ).cast("string")
                    for r in range(rows_per_band)
                ],
            ).alias("sig")
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    prefilter_min_matches: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact-Jaccard verification:
    signature -> ``bands`` bands of ``num_hashes/bands`` rows -> docs
    sharing any band signature become candidates -> candidates verified
    with exact n-gram Jaccard >= threshold. Output (id_a, id_b, jaccard).

    Scale: the band join touches only colliding documents — the whole
    point of LSH; with b=4, r=3 the S-curve crosses ~50% capture at
    jaccard ≈ (1/b)^(1/r) ≈ 0.63.

    ``prefilter_min_matches``: drop candidate pairs whose signatures
    agree on fewer than this many of the ``num_hashes`` seeds BEFORE the
    exact-Jaccard verify. E[matches] = jaccard * num_hashes, so e.g. 5
    of 12 estimates j ≈ 0.42 — a cheap signature-space filter (12 rows
    per doc vs hundreds of shingles) that cuts the dominant verify-join
    volume several-fold on corpora with many borderline band
    collisions. Integer count comparison, so the DuckDB oracle
    reproduces the kept set exactly. Slightly lossy by construction:
    a true pair whose signature underestimates its jaccard can be
    dropped (standard MinHash-estimate tradeoff).

    ``max_bucket`` — the MEGA-BUCKET guard (the semdedup ``max_cell``
    lesson applied to LSH): a band bucket with g members generates
    g(g-1)/2 candidate pairs, and real web corpora contain dup clusters
    of millions (boilerplate, templates) — one such bucket allocates
    quadratic join output and OOMs an executor (measured: a 50k-member
    bucket killed the 500k-doc scale probe with a 0.5 GB single-array
    allocation). Buckets LARGER than ``max_bucket`` emit STAR
    candidates instead — (min-id hub, member) pairs, g-1 of them.
    This is LOSSY beyond the redundant-edge case: a band collision is
    only ``num_hashes/bands`` agreeing hashes, so an over-cap bucket
    is NOT guaranteed to be one duplicate cluster — a member whose
    exact Jaccard against the min-id hub falls below ``threshold``
    loses ALL its edges from that bucket, so genuine near-dup pairs
    between non-hub members can be missed and clusters can fragment
    (they are only recovered if some under-cap bucket also catches
    them). The guard is therefore OFF by default (``max_bucket=None``
    — results always match the exhaustive banded operator); turn it on
    explicitly for corpora with boilerplate mega-clusters, where an
    executor OOM is worse than fragmenting a >``max_bucket``-member
    near-dup cluster. Buckets at or under the cap are untouched, so an
    enabled guard changes nothing until a bucket actually overflows
    (pinned in tests/test_dedup_similarity.py).
    """
    rows_per_band = num_hashes // bands
    # one shingle table feeds BOTH the signature branch and the verify
    # branch; persisted because the plan fans out 6+ ways and Spark would
    # otherwise recompute the scan+explode+window chain per branch
    # (measured 6.2s -> ~3s at sf0.1). At 100 TB, write the shingle table
    # to storage once instead of relying on executor cache.
    sh = registered_persist(shingle_table(df, id_col, text_col, n))
    sig = minhash_signatures(df, id_col, text_col, num_hashes, n, shingles=sh)
    # Band signature = the band's minhashes in seed order, '-'-joined
    # (shared construction: band_signatures below, also used by the
    # persisted-index probe path so index probes generate the same
    # candidates as this one-shot operator; byte-equivalence to the
    # pre-r15 collect_list formulation is pinned in
    # tests/test_r15_optimizations.py against this single definition).
    band_sig = band_signatures(sig, num_hashes, bands)
    if max_bucket is not None:
        from pyspark.sql import Window as W

        # single-pass bucket sizing: count + hub as window aggregates
        # over the SAME (band, sig) shuffle the self-join needs — a
        # separate groupBy+join branch would recompute the whole
        # shingle->signature chain per branch (measured 2x at sf0.1);
        # the enriched frame is persisted because three branches (small
        # self-join a/b + star) read it
        wb = W.partitionBy("band", "sig")
        band_sig = registered_persist(
            band_sig.withColumn("_bn", F.count(F.lit(1)).over(wb)).withColumn(
                "_hub", F.min("id").over(wb)
            )
        )
        small = band_sig.filter(F.col("_bn") <= max_bucket)
        star = (
            band_sig.filter(
                (F.col("_bn") > max_bucket) & (F.col("id") != F.col("_hub"))
            ).select(F.col("_hub").alias("id_a"), F.col("id").alias("id_b"))
        )
    else:
        # the bucket self-join reads band_sig from BOTH aliases — without
        # a persist each side recomputes the whole shingle->signature
        # chain (measured: 2.4s vs 1.5s at sf0.1 for dedup_minhash_lsh)
        small, star = registered_persist(band_sig), None
    a = small.alias("a")
    b = small.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    if star is not None:
        candidates = candidates.unionByName(star)
    candidates = candidates.distinct()
    if prefilter_min_matches is not None:
        sa = sig.withColumnsRenamed({"id": "id_a", "minhash": "mh_a"})
        sb = sig.withColumnsRenamed({"id": "id_b", "minhash": "mh_b"})
        candidates = (
            candidates.join(sa, "id_a")
            .join(sb, ["id_b", "seed"])
            .groupBy("id_a", "id_b")
            .agg(
                F.sum(
                    F.when(F.col("mh_a") == F.col("mh_b"), 1).otherwise(0)
                ).alias("n_match")
            )
            .filter(F.col("n_match") >= prefilter_min_matches)
            .select("id_a", "id_b")
        )
    # verify ONLY the candidates — running the exhaustive jaccard here
    # would defeat LSH (measured 40s -> ~8s at sf0.1)
    return _jaccard_for_pairs(candidates, sh, threshold)


#: UNDIRECTED-edge ceiling for the driver union-find tier (the
#: direction-doubled table the tiers branch on holds 2x this). At the
#: ceiling the Arrow collect moves ~80 MB (5M x two int64 columns) and
#: the numpy working set (compacted endpoints + parent array) peaks
#: around ~0.4 GB — fine for any driver. Near-dup edge sets are
#: dup-density-proportional, so even a 100 TB corpus rarely approaches
#: this; the distributed fixpoint is the fallback, not the common path.
CC_DRIVER_MAX_EDGES = 5_000_000


def _union_find_labels(edges_pdf, spark) -> DataFrame:
    """Driver-side union-find over Arrow-collected edges: O(E α(E)).
    Same output contract as the distributed fixpoint: (id, lab) with
    lab = min id of the component.

    ``edges_pdf`` is a pandas frame with int64 columns ``s``/``t``, one
    row per undirected edge. Node ids are compacted to [0, n) with
    ``np.unique`` (ascending, so smaller compact index == smaller id and
    a min-index root IS the min-id root); parents live in one int64
    array, not a Python dict — the driver cost at the ceiling is two
    numpy arrays, not millions of boxed tuples."""
    import numpy as np
    import pandas as pd

    s = edges_pdf["s"].to_numpy(dtype="int64", copy=False)
    t = edges_pdf["t"].to_numpy(dtype="int64", copy=False)
    nodes, idx = np.unique(np.concatenate([s, t]), return_inverse=True)
    si, ti = idx[: len(s)], idx[len(s) :]
    parent = np.arange(len(nodes), dtype="int64")

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while x != root:  # path compression
            nxt = parent[x]
            parent[x] = root
            x = nxt
        return root

    for a, b in zip(si.tolist(), ti.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # min index becomes the root so cluster_id = min(component)
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    # vectorized final resolution: pointer-double to the fixpoint
    while True:
        hop = parent[parent]
        if np.array_equal(hop, parent):
            break
        parent = hop
    out = pd.DataFrame({"id": nodes, "lab": nodes[parent]})
    return spark.createDataFrame(out)


def _large_small_star_labels(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Distributed connected components via alternating large-star /
    small-star contractions (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): (id, lab) with lab = component min,
    for every node present in ``edges`` (direction-doubled table).

    Each round contracts the graph toward per-component stars centered
    at local minima:

    - **large-star(u)**: connect every neighbor v > u to
      m = min(N(u) ∪ {u});
    - **small-star(u)**: connect every neighbor v < u (and u itself) to
      the min such neighbor.

    Convergence is O(log² n) ROUNDS — the property that matters at
    100 TB, where the min-label-propagation alternative pays one full
    join per unit of component DIAMETER (a 10⁶-long chain of near-dup
    shards = 10⁶ rounds vs ~40). Per round: two groupBy(min) + join
    passes over the current edge set, which only shrinks; convergence
    is detected with a 1-row checksum aggregate (count + hash-sum, no
    second shuffle), and each round's edge set is localCheckpointed so
    lineage stays flat. At the fixpoint every component is a star, so
    labels fall out of one final groupBy(min).
    """

    def bidir(e: DataFrame) -> DataFrame:
        return e.unionByName(
            e.select(F.col("t").alias("s"), F.col("s").alias("t"))
        ).distinct()

    def checksum(e: DataFrame):
        # bit_xor is order-independent and cannot overflow under ANSI
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(s, t))").alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    prev = None
    for _ in range(max_iter):
        # large-star: m(u) = min(N(u) ∪ {u}); larger neighbors -> m
        m = edges.groupBy("s").agg(
            F.least(F.min("t"), F.first("s")).alias("m")
        )
        large = (
            edges.filter(F.col("t") > F.col("s"))
            .join(m, "s")
            .filter(F.col("t") != F.col("m"))
            .select(F.col("t").alias("s"), F.col("m").alias("t"))
        )
        edges = bidir(large).localCheckpoint(eager=True)
        # small-star: strictly-smaller neighbors (and the center) -> min
        sm = edges.filter(F.col("t") < F.col("s"))
        mn = sm.groupBy("s").agg(F.min("t").alias("m"))
        small = (
            sm.join(mn, "s")
            .filter(F.col("t") != F.col("m"))
            .select(F.col("t").alias("s"), F.col("m").alias("t"))
            .unionByName(mn.select("s", F.col("m").alias("t")))
        )
        edges = bidir(small).localCheckpoint(eager=True)
        cur = checksum(edges)
        if cur == prev:
            break
        prev = cur
    # fixpoint edges are stars: every node's label is its min neighbor
    # (or itself, for the component-min center)
    return edges.groupBy("s").agg(
        F.least(F.min("t"), F.first("s")).alias("lab")
    ).select(F.col("s").alias("id"), "lab")


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    max_iter: int = 25,
    driver_max_edges: int = CC_DRIVER_MAX_EDGES,
    distributed_algorithm: str = "star",
) -> DataFrame:
    """Connected components over near-dup pairs — the cluster step that
    turns pairwise dedup output into "keep one document per cluster":
    (id, cluster_id) with cluster_id = min doc id in the component;
    singletons get their own id.

    Two tiers, chosen by measured edge count:

    - **Driver union-find** (UNDIRECTED edge count <=
      ``driver_max_edges``; the doubled table is compared against 2x):
      the verified near-dup edge set is dup-density-proportional — tiny
      relative to the corpus even at 100 TB — and a distributed
      fixpoint pays multi-second job-scheduling overhead per round for
      a graph that fits in two numpy arrays (measured: 256 edges at
      sf0.1 cost 5.5s distributed, <0.1s on the driver). The collect is
      BOUNDED: the edge count is checked first, and only the ``s < t``
      half moves via Arrow (two int64 columns, ~80 MB at the 5M-edge
      ceiling; numpy working set ~0.4 GB). Documents never collect.
    - **Distributed large-star/small-star** (above the ceiling;
      :func:`_large_small_star_labels`): the Kiveris et al. alternating
      contraction, O(log² n) rounds regardless of component DIAMETER —
      the web-scale algorithm. The loop is driver-side CONTROL only;
      localCheckpoint per round truncates lineage, and edges are
      checkpointed ONCE up front (the pair source is typically an
      LSH/Jaccard verify plan — without the pin every round would
      re-execute that whole upstream). Only edge-touched nodes enter
      the loop (singleton labels can never change; they join back at
      the end). ``distributed_algorithm="propagation"`` selects the
      simpler min-label fixpoint (diameter-bound rounds), kept for
      differential testing.

    Both tiers end the same way: left-join the edge-node labels back to
    the full node set, ``coalesce(lab, id)`` labeling singletons.
    """
    edges = (
        pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("t"))
        .unionByName(pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("t")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = nodes.sparkSession
    # the checkpointed table is direction-DOUBLED: compare its count
    # against 2x the (undirected) ceiling, and collect only the s < t
    # half — one Arrow row per undirected edge, both endpoints covered
    if edges.count() <= 2 * driver_max_edges:
        labels = _union_find_labels(
            edges.filter(F.col("s") < F.col("t")).toPandas(), spark
        )
        return (
            nodes.select(F.col(id_col).alias("id"))
            .join(F.broadcast(labels), "id", "left")
            .select("id", F.coalesce("lab", "id").alias("cluster_id"))
        )
    if distributed_algorithm == "star":
        return (
            nodes.select(F.col(id_col).alias("id"))
            .join(_large_small_star_labels(edges, max_iter), "id", "left")
            .select("id", F.coalesce("lab", "id").alias("cluster_id"))
        )
    # min-label propagation fallback (diameter-bound rounds) — kept for
    # differential testing against the star tier
    # both edge directions are present, so "s" alone covers every endpoint
    labels = (
        edges.select(F.col("s").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("lab"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels.withColumnsRenamed({"id": "t", "lab": "tl"}), "t")
            .groupBy(F.col("s").alias("id"))
            .agg(F.min("tl").alias("nl"))
        )
        new_labels = (
            labels.join(neigh, "id", "left")
            .select("id", F.least("lab", F.coalesce("nl", "lab")).alias("lab"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.lab") != F.col("o.lab"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return (
        nodes.select(F.col(id_col).alias("id"))
        .join(labels, "id", "left")
        .select("id", F.coalesce("lab", "id").alias("cluster_id"))
    )


def simhash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash fingerprints: (id, simhash).

    Token-occurrence hashes (with multiplicity); per-bit signed sums; bit
    b set iff its sum >= 0. Bit extraction uses exact bigint ``div``/``%``
    arithmetic (no floats, no engine-specific bitops) so DuckDB reproduces
    the value exactly.
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("token"),
    ).withColumn("h", portable_hash64("token") % (2**SIMHASH_BITS))
    bit_sums = [
        F.sum(
            F.when(F.expr(f"(h div {2 ** b}) % 2") == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy("id").agg(*bit_sums)
    fingerprint = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") >= 0, F.lit(2**b)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return agg.select("id", fingerprint.cast("bigint").alias("simhash"))


def simhash_band_candidates(
    df: DataFrame, id_col: str, text_col: str, band_bits: int = 8
) -> DataFrame:
    """Near-dup candidate pairs: documents sharing any ``band_bits``-wide
    SimHash band (Hamming-distance blocking): (id_a, id_b, band)."""
    sims = simhash_table(df, id_col, text_col)
    n_bands = SIMHASH_BITS // band_bits
    banded = sims.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(f"(simhash div {2 ** (i * band_bits)}) % {2 ** band_bits}").alias(
                            "chunk"
                        ),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bc"),
    ).select("id", F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def segment_dedup_rewrite(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
    broadcast_dups: bool = True,
    boundary: str = "fixed",
) -> DataFrame:
    """Corpus-level segment dedup with document REWRITE — the C4
    three-sentence-span rule (Raffel et al. 2020 §2.2: "remove all but
    one of any three-sentence span occurring more than once") and
    RefinedWeb's line-level dedup, re-expressed over a pluggable
    deterministic segmentation: documents split into consecutive
    ``k``-token segments, any segment whose corpus-wide occurrence count
    reaches ``min_count`` keeps ONLY its canonical first occurrence
    (lexicographic min ``(id, seg_idx)``), every other copy is cut, and
    each document is reassembled from its surviving segments in order.

    ``boundary`` picks the segmentation, the dedup algebra is identical:

    - ``"fixed"``: consecutive ``k``-token windows — the segmentation
      both engines replay exactly on a corpus WITHOUT newlines;
    - ``"line"``: one segment per NEWLINE-delimited line (RefinedWeb's
      actual line-level rule, and the natural reading of C4's
      boundary-aligned spans — fixed windows under-match SHIFTED
      boilerplate, which boundary alignment makes position-invariant).
      ``k`` is ignored; reassembly re-joins with ``\\n``. Empty lines
      are segments too (they dedup to one canonical copy — blank-run
      collapsing, same rule both engines replay via
      ``string_split(text, chr(10))``).

    Returns one row per input document:
    ``(id, n_segments, n_kept, n_dropped, text_clean)``.

    Scale shape (100 TB):

    - Segmentation is SHUFFLE-FREE: explode over ``sequence(0,
      n_segs-1)`` + ``slice`` on the token array, pipelined codegen in
      the scan stage — O(n_tokens) work, never a (doc, seg) shuffle.
    - The frequency pass groups on the 8-byte ``portable_hash64`` of
      the segment (map-side combinable; the segment text itself never
      crosses that shuffle), and keeps only over-``min_count`` rows —
      the duplicated-content set, which is small relative to the corpus
      by construction (bounded by duplicate volume, not corpus size).
      ``broadcast_dups=True`` broadcasts it into the segment scan; set
      False when duplicate volume itself is huge (boilerplate-dominated
      crawls) to fall back to a shuffle join on the hash.
    - Reassembly is ONE groupBy on the document id; per-group state is
      one document's segments (struct sort + array_join), never a
      window over the corpus.
    - The canonical-occurrence pick rides the SAME hash shuffle as the
      frequency count (``min(struct(id, seg_idx))`` merges map-side) —
      no second pass over the corpus.

    Identical-hash distinct segments (60-bit md5 prefix) would merge
    counts; both engines use the same md5, so results still agree
    exactly — at 100 TB widen to the full md5 if collision-level
    precision matters.
    """
    if boundary == "line":
        joiner = "\n"
        segs = df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias(
                "seg_idx", "seg"
            ),
        ).withColumn("h", portable_hash64("seg"))
    elif boundary == "fixed":
        joiner = " "
        w = df.select(
            F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("w")
        )
        segs = (
            w.select(
                "id",
                F.explode(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size("w") / F.lit(float(k))).cast("int") - 1,
                    )
                ).alias("seg_idx"),
                "w",
            )
            .select(
                "id",
                "seg_idx",
                F.array_join(
                    F.slice("w", F.col("seg_idx") * k + 1, F.lit(k)), " "
                ).alias("seg"),
            )
            .withColumn("h", portable_hash64("seg"))
        )
    else:
        raise ValueError(f"unknown boundary {boundary!r}")
    dups = (
        segs.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct("id", "seg_idx")).alias("keep"),
        )
        .filter(F.col("n") >= min_count)
        .select("h", "keep")
    )
    if broadcast_dups:
        dups = F.broadcast(dups)
    marked = segs.join(dups, "h", "left")
    survive = F.col("keep").isNull() | (
        F.struct("id", "seg_idx") == F.col("keep")
    )
    return marked.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(survive.cast("int")).cast("long").alias("n_kept"),
        (
            F.count(F.lit(1)) - F.sum(survive.cast("int"))
        ).cast("long").alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(survive, F.struct("seg_idx", "seg"))
                    )
                ),
                lambda s: s["seg"],
            ),
            joiner,
        ).alias("text_clean"),
    )
