"""Similarity search over an embedding column (north-rule addition).

The reference has no vector search; a 100 TB training-data pipeline
needs near-dup detection and retrieval over ``array<float>`` embedding
columns. Three strategies, native Catalyst (``zip_with``/``aggregate``
array algebra) except the ONE documented Arrow/numpy kernel for LSH
signatures (:func:`with_rp_buckets` — bits×tables interpreted HOF dot
products per row don't codegen; one einsum per batch does):

- :func:`cosine_topk`      — exact brute force: broadcast the (small)
  query set against the corpus, per-query ``row_number`` top-k. The
  correctness baseline; cost O(|corpus|·|queries|·dim) but embarrass-
  ingly parallel with ZERO shuffle of the corpus (queries broadcast,
  the only shuffle is the final tiny top-k window on ~|q|·k rows,
  pre-pruned per-partition before the shuffle).
- :func:`rp_lsh_topk`      — random-hyperplane LSH: b-bit signs per
  table, candidates = bucket collisions in any of t tables, exact
  rerank on candidates. The 100 TB path: the corpus shuffles once on
  (table, bucket) — bucket-local joins, never all-pairs.
- :func:`ivf_topk`         — IVF: deterministic centroid sample,
  corpus partitioned by nearest centroid, queries probe the nprobe
  nearest lists. Search cost drops by ~n_centroids/nprobe.

Determinism: hyperplanes/centroids derive from fixed integer seeds
(splitmix-style hashing), so plans are reproducible run to run —
required for the driver's oracle comparison and for checkpoint/resume
at scale.
"""

from __future__ import annotations

from typing import List, Optional

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .functions.hashing import splitmix64 as _splitmix
from .textops import _bucket_pairs


# ----------------------------------------------------------------------
# array algebra primitives
# ----------------------------------------------------------------------
def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double (zip_with + aggregate: one codegen'd loop)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# ----------------------------------------------------------------------
# deterministic pseudo-random hyperplanes / centroids
# ----------------------------------------------------------------------


def hyperplane(seed: int, dim: int) -> List[float]:
    """A fixed pseudo-random unit-free hyperplane (sign test only needs
    direction, not normalization)."""
    out = []
    for j in range(dim):
        h = _splitmix(seed * 1_000_003 + j)
        out.append((h / 2**64) * 2.0 - 1.0)
    return out


# ----------------------------------------------------------------------
# exact brute force
# ----------------------------------------------------------------------
def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k by cosine: (query_id, vec_id, rank, cosine_sim).

    The query side is broadcast — the corpus is never shuffled for the
    join. The global per-query top-k window would normally shuffle all
    |corpus|·|queries| scored rows; we pre-prune to k rows per
    (partition, query) first (partition-local window), so the global
    window sees ≤ k·n_partitions·|queries| rows. Self-matches
    (query_id == vec_id) are excluded.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("query_vec"),
        )
    )
    scored = (
        corpus.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("_vec"),
            l2_norm(F.col(vec_col)).alias("_norm"),
        )
        .join(q, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (dot(F.col("_vec"), F.col("query_vec")) / (F.col("_norm") * l2_norm(F.col("query_vec")))).alias(
                "cosine_sim"
            ),
        )
    )
    # partition-local prune: cheap rank within (spark_partition, query)
    local = Window.partitionBy(F.spark_partition_id(), "query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    pruned = scored.withColumn("_lr", F.row_number().over(local)).filter(F.col("_lr") <= k).drop("_lr")
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cosine_sim")
    )


# ----------------------------------------------------------------------
# random-hyperplane LSH
# ----------------------------------------------------------------------
def rp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 8,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: exact rerank over LSH bucket collisions.

    Corpus rows explode into ``tables`` (table, bucket) keys; queries
    (broadcast) join on bucket equality; distinct candidates rerank
    exactly. At 10^12 rows the equi-join on (table, bucket) hash-
    partitions the corpus once — no O(n²) stage anywhere.
    """
    c = with_rp_buckets(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_vec")),
        dim, bits, tables, seed, vec_col="_vec",
    )
    q = F.broadcast(
        with_rp_buckets(
            queries.select(
                F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("query_vec")
            ),
            dim, bits, tables, seed, vec_col="query_vec",
        )
    )
    cands = (
        c.join(q, ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.first("_vec").alias("_vec"), F.first("query_vec").alias("query_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        cands.select("query_id", "vec_id", cosine(F.col("_vec"), F.col("query_vec")).alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cosine_sim")
    )


# ----------------------------------------------------------------------
# IVF (inverted-file) coarse quantization
# ----------------------------------------------------------------------
IVF_HASH_P = 2_147_483_647  # 2^31 − 1: products stay < 2^62, no overflow


def ivf_bucket(cid: Column, n_centroids: int) -> Column:
    """Deterministic centroid bucket: ((id·1000003 + 12345) mod p) mod n.

    Pure 64-bit integer arithmetic — the DuckDB oracle evaluates the
    identical expression, so centroid selection (and therefore the whole
    IVF answer) is exactly reproducible across engines."""
    h = F.pmod(cid.cast("bigint") * F.lit(1_000_003) + F.lit(12_345), F.lit(IVF_HASH_P))
    return F.pmod(h, F.lit(n_centroids))


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cid, cvec): the deterministic centroid set — min-id member per
    :func:`ivf_bucket` hash bucket (map-side-combined, one tiny
    shuffle)."""
    return (
        corpus.select(
            ivf_bucket(F.col(id_col), n_centroids).alias("_b"),
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cvec"),
        )
        .groupBy("_b")
        .agg(F.min_by(F.struct(F.col("cid"), F.col("cvec")), F.col("cid")).alias("_c"))
        .select(F.col("_c.cid").alias("cid"), F.col("_c.cvec").alias("cvec"))
    )


def ivf_assign(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: Optional[DataFrame] = None,
) -> DataFrame:
    """Assign each vector to its nearest deterministic centroid.

    Centroids = per hash-bucket minimum: bucket = multiplicative hash
    of the id mod n_centroids (:func:`ivf_bucket` — integer math both
    Spark AND DuckDB evaluate bit-identically, so the whole IVF search
    has an exact SQL oracle; swap for ``xxhash64`` at production scale
    if oracle-ability is not needed), centroid = the member with the
    smallest id in each bucket (``min_by`` — map-side combinable, so
    every task reduces to ≤ n_centroids rows before the one tiny
    shuffle; no global sort, no window, no count job — the round-1
    global ``Window.orderBy`` funneled the whole corpus through one
    task). Deterministic (k-means would drift run-to-run; resumability
    beats a marginally better partition). Returns corpus + ``list_id``.
    At scale the assignment is a broadcast nested-loop argmin — the
    corpus is never shuffled; write the result bucketed by list_id for
    probe locality.
    """
    if cents is None:
        cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    cent_arr = F.broadcast(
        cents.groupBy().agg(
            F.sort_array(F.collect_list(F.struct(F.col("cid"), F.col("cvec")))).alias("cents")
        )
    )
    with_c = corpus.crossJoin(cent_arr)
    # argmax cosine over the centroid array — greatest-struct trick
    best = F.aggregate(
        F.col("cents"),
        F.struct(F.lit(-2.0).alias("sim"), F.lit(-1).cast("long").alias("cid")),
        lambda acc, c: F.when(
            cosine(F.col(vec_col), c["cvec"]) > acc["sim"],
            F.struct(cosine(F.col(vec_col), c["cvec"]).alias("sim"), c["cid"].cast("long").alias("cid")),
        ).otherwise(acc),
    )
    return with_c.select(corpus["*"], best["cid"].alias("list_id"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF search: probe the nprobe nearest inverted lists, exact rerank.

    Search cost ≈ brute force × (nprobe / n_centroids); recall < 1 by
    design (oracle-checked exactly — the seeded centroid hash makes the
    approximate answer deterministic)."""
    # compute the centroid agg ONCE and share it between assignment
    # and probing — round-2 first cut ran the corpus-wide centroid agg
    # twice (once inside ivf_assign, once here); at 10^12 rows that is
    # a second full corpus pass for ≤ n_centroids rows
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    assigned = ivf_assign(corpus, n_centroids, id_col, vec_col, cents=cents)
    cent_vecs = cents.select(F.col("cid").alias("list_id"), F.col("cvec"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("query_vec")
    )
    qc = q.crossJoin(F.broadcast(cent_vecs)).select(
        "query_id", "query_vec", "list_id", cosine(F.col("query_vec"), F.col("cvec")).alias("csim")
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("list_id"))
    probes = (
        qc.withColumn("_pr", F.row_number().over(wprobe))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", "query_vec", "list_id")
    )
    cand = assigned.join(F.broadcast(probes), "list_id").filter(F.col(id_col) != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        cand.select(
            "query_id",
            F.col(id_col).alias("vec_id"),
            cosine(F.col(vec_col), F.col("query_vec")).alias("cosine_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cosine_sim")
    )


# ----------------------------------------------------------------------
# embedding-cosine near-duplicate pairs (north-rule dedup method)
# ----------------------------------------------------------------------
def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT near-dup pairs: cosine ≥ threshold over the upper triangle.

    The correctness baseline (O(n²) — fine for an oracle-checked query;
    at corpus scale use :func:`lsh_near_dup_pairs`, whose candidates
    this verifies). Norms are precomputed once per side.
    """
    base = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        l2_norm(F.col(vec_col)).alias("norm"),
    )
    a, b = base.alias("a"), base.alias("b")
    sim = dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.norm") * F.col("b.norm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            sim.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def lsh_near_dup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.9,
    bits: int = 10,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """Scale path: candidates = random-hyperplane bucket collisions in
    any of ``tables`` tables, exact cosine verification on candidates.
    Recall < 1 by design (collision prob per table = (1−θ/π)^bits for
    angle θ); at 10^12 rows the corpus shuffles once on (table, bucket).

    Each bucket is one window whose members are expanded into pairs
    (``textops._bucket_pairs``), so the signature kernel runs once per
    row; a self-join over the exploded buckets would run it once per
    side. ``max_bucket_size`` drops over-full buckets before any member
    list is built — a mega-cluster of identical embeddings otherwise
    makes its bucket quadratic; route such clusters through exact
    (digest) dedup first.
    """
    keyed = with_rp_buckets(
        corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            l2_norm(F.col(vec_col)).alias("norm"),
        ),
        dim, bits, tables, seed, vec_col="vec",
    )
    item = F.struct("id", "vec", "norm")
    pairs = _bucket_pairs(keyed, ["table", "bucket"], item, max_bucket_size)
    sim = dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.norm") * F.col("b.norm"))
    pairs = pairs.select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), sim.alias("cosine_sim"))
    return pairs.filter(F.col("cosine_sim") >= threshold).distinct()


# ----------------------------------------------------------------------
# vectorized signature computation (numpy matmul via pandas UDF)
# ----------------------------------------------------------------------
def with_rp_buckets(
    df: DataFrame,
    dim: int,
    bits: int,
    tables: int,
    seed: int = 7,
    vec_col: str = "embedding",
) -> DataFrame:
    """Adds exploded (table, bucket) keys per row.

    A native signature would evaluate bits×tables interpreted HOF dot
    products per row (Catalyst doesn't codegen higher-order functions)
    and cost py4j round trips per plan node; one numpy ``V @ P.T``
    matmul per Arrow batch is ~20× faster — the documented exception to
    the no-Python rule (hot numeric kernel, Arrow-batched, deterministic
    planes from :func:`hyperplane`).

    Cross-engine ulp note (accepted risk, bounded by test): the sign
    bit is an exact ``dot >= 0`` comparison; numpy's einsum and the
    DuckDB oracle's sequential ``list_inner_product`` may reassociate
    and differ by ~64 ulp (~1e-14 for O(1) values). A vector lying
    within that band of a hyperplane could bucket differently per
    engine. ``test_lsh_sign_margin_far_above_ulp`` asserts the actual
    corpus-wide minimum |dot| (~3.8e-7, incl. planted twins and sf1
    mutations) stays ≥1e-9, so the band is never entered; if testdata
    regeneration lands a vector near a plane, that test fails loudly
    instead of a mystery hash mismatch at one SF.
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    planes = np.array(
        [
            [hyperplane(seed + t * 10_007 + b, dim) for b in range(bits)]
            for t in range(tables)
        ]
    )  # (tables, bits, dim)
    weights = (1 << np.arange(bits)).astype("int64")

    @pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        v = np.asarray([np.asarray(x, dtype="float64") for x in vecs])
        if len(v) == 0:
            return pd.Series([], dtype=object)
        out = []
        signs = np.einsum("nd,tbd->ntb", v, planes) >= 0  # (n, tables, bits)
        codes = signs @ weights  # (n, tables)
        for row in codes:
            out.append([int(x) for x in row])
        return pd.Series(out)

    # explode the UDF call, not a column holding it: over a column
    # Catalyst infers a ``size(_bk) > 0`` filter below the generator,
    # and that filter evaluates the kernel a second time
    return df.select("*", F.posexplode(buckets(F.col(vec_col))).alias("table", "bucket"))
