"""Large-scale training-data text operators (north-rule additions).

Beyond the reference's own operator set: the operations a 100 TB
text-corpus pipeline needs, each expressed as native Catalyst and
designed for scale:

- exact dedup            — hash-groupBy on content digest (one shuffle
                           on the digest, AQE-coalesced);
- MinHash + LSH dedup    — shingle → per-hash min (digest-based, no
                           UDF) → sorted signature slices as band keys →
                           one window per bucket hands each member its
                           later members, exploded into pairs (no
                           self-join); the shuffle key is the band, so
                           candidate generation is O(bucket²) not O(n²);
- SimHash                — 64-bit sign-aggregated digest, hamming
                           ball candidate pairs, blocked on quarters
                           through the same bucket window;
- n-gram Jaccard         — exact verification on candidate pairs (or
                           full self-join at small scale);
- language id            — stopword-hit scoring over 7 languages;
- quality scoring        — length / punctuation / stopword / word-size
                           signals in one pass;
- token counting         — whitespace + regex token counts;
- fingerprinting         — 0-mod-p winnowing of char-shingle hashes.

All digests are md5-based so every operator has an exact DuckDB oracle
(see ``__spark_entry__.py``); xxhash64 would be faster but has no
DuckDB twin — at production scale swap ``_hash64``'s body for
``F.xxhash64`` (one line).
"""

from __future__ import annotations

from functools import lru_cache
from typing import List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.hashing import splitmix64 as _splitmix

# ----------------------------------------------------------------------
# shared primitives
# ----------------------------------------------------------------------
def norm_words(text: Column) -> Column:
    """Lowercased whitespace tokens of whitespace-normalized text."""
    return F.split(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))), " ")


def _hash64(s: Column) -> Column:
    """Deterministic 60-bit positive int from md5 (DuckDB-oracle-able)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def word_shingles(words: Column, k: int) -> Column:
    """All k-word shingles as strings (empty array if < k words).

    ``words`` should be a materialized column: the shingle lambda reads
    it once per shingle, so an expression would re-run per shingle."""
    n = F.size(words)
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.array_join(F.slice(words, i, k), " "),
        )
    )


# ----------------------------------------------------------------------
# exact dedup
# ----------------------------------------------------------------------
def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    with_ids: bool = True,
) -> DataFrame:
    """Groups of byte-identical documents: (digest, canonical_id, dup_ids).

    One shuffle on the digest; at 10^12 rows the digest groupBy is the
    canonical map-side-combinable aggregation.

    ``with_ids=False`` drops the ``doc_ids`` roster: ``collect_list`` on
    a pathological digest (boilerplate/empty documents duplicated 10^9
    times) materializes the whole group in one aggregation buffer. The
    min/count-only form stays bounded per key at ANY skew — use it at
    corpus scale and recover rosters per-digest on demand (a pushed-down
    ``WHERE digest = X`` scan)."""
    digest = F.md5(F.col(text_col))
    aggs = [
        F.min(id_col).alias("canonical_id"),
        F.count("*").alias("n_docs"),
    ]
    if with_ids:
        aggs.append(F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
    return (
        df.select(F.col(id_col), digest.alias("digest"))
        .groupBy("digest")
        .agg(*aggs)
        .filter(F.col("n_docs") > 1)
    )


# ----------------------------------------------------------------------
# bucket → candidate pairs (shared by MinHash-LSH and SimHash)
# ----------------------------------------------------------------------
def _bucket_pairs(
    keyed: DataFrame, keys: List[str], item: Column, max_size: Optional[int],
) -> DataFrame:
    """Pairs ``(a, b)`` of the ``item`` structs that share a bucket, with
    ``a.id < b.id``, one row per bucket they share. Each caller projects
    its own columns and then takes ``distinct``, so the dedup exchange
    carries the projected ids rather than both whole structs.

    One window per bucket, ordered by ``item``, hands every member the
    list of the members after it, and one ``explode`` of that list emits
    the member's pairs. Every row stays O(bucket size), and the window
    buffers a bucket's rows where they can spill, so a large bucket
    streams its pairs. Two shapes that look equivalent are not: one
    array of all of a bucket's pairs is O(bucket²) in a single row, and
    a codegen'd generator over a grouped member list copies the whole
    list into each row it emits, all of them buffered at once.

    ``max_size`` drops buckets with more members before any list is
    built: a count over the same window, so the lists reuse its
    partitioning and sort (no second exchange) and no task ever holds
    an over-full bucket's list."""
    # one column for both windows to order by, so they share one sort
    members = keyed.select(*keys, item.alias("a"))
    bucket = Window.partitionBy(*keys).orderBy("a")
    if max_size is not None:
        whole = bucket.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        members = members.withColumn("_n", F.count("*").over(whole)).filter(F.col("_n") <= max_size)
    later = F.collect_list("a").over(bucket.rowsBetween(1, Window.unboundedFollowing))
    return (
        members.select("a", later.alias("_later"))
        .select("a", F.explode(F.expr("filter(_later, y -> y.id > a.id)")).alias("b"))
    )


# ----------------------------------------------------------------------
# MinHash + LSH
# ----------------------------------------------------------------------
MINHASH_P = 2_147_483_647  # 2^31 - 1 (prime): products stay < 2^62


def minhash_coeffs(n_hashes: int) -> List[tuple]:
    """Deterministic (a_i, b_i) for the universal hash family
    h_i(m) = (a_i * (m mod p) + b_i) mod p — the SAME literal constants
    are embedded in the DuckDB oracle (``__spark_entry__.py``)."""
    return [
        (_splitmix(1000 + i) % (MINHASH_P - 1) + 1, _splitmix(2000 + i) % MINHASH_P)
        for i in range(n_hashes)
    ]


def _shingle_digests(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int,
) -> DataFrame:
    """(id, _mh): the md5 → 60-bit int digest of every shingle, reduced
    mod p ONCE per shingle; each minhash is then one cheap integer pass
    over this array (:func:`_minhash_sig_sql`)."""
    # materialize the word array, then the int digests, as physical
    # columns FIRST: a Column closure referenced inside a HOF lambda is
    # inlined per reference, so the tokenizer would otherwise re-run once
    # per shingle and the md5 pass once per hash index
    return df.select(F.col(id_col), norm_words(F.col(text_col)).alias("_w")).select(
        F.col(id_col),
        F.transform(word_shingles(F.col("_w"), shingle_k), lambda s: _hash64(s) % MINHASH_P).alias("_mh"),
    )


@lru_cache(maxsize=16)
def _minhash_sig_sql(n_hashes: int) -> str:
    """The signature over ``_mh`` as one SQL string: one py4j call per
    plan, where a Column tree costs a round trip per node. Every
    literal fits an INT, so each minhash is a bigint.

    "No shingles" is a NULL array, not a filter: ``posexplode(NULL)``
    emits no rows, while a filter on ``_mh`` is pushed below the
    projections that build it and re-inlines the tokenizer into the
    shingle lambda."""
    mins = ", ".join(
        f"array_min(transform(_mh, m -> ({a} * m + {b}) % {MINHASH_P}))"
        for a, b in minhash_coeffs(n_hashes)
    )
    return f"IF(size(_mh) > 0, array({mins}), NULL)"


@lru_cache(maxsize=16)
def _lsh_bands_sql(n_hashes: int, rows: int) -> str:
    """The band keys of ``_sig`` as one SQL array: band b is the sorted
    slice of hashes ``b*rows .. b*rows+rows-1``, so when ``rows`` does
    not divide ``n_hashes`` the last band is short. NULL when ``_sig``
    is (a document without shingles gets no band rows)."""
    keys = ", ".join(
        f"array_sort(slice(_sig, {start + 1}, {rows}))" for start in range(0, n_hashes, rows)
    )
    return f"IF(_sig IS NULL, NULL, array({keys}))"


def lsh_band_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = 12, bands: int = 4, shingle_k: int = 3,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.

    Band key = the band's sorted slice of the signature array (exact
    equality, no digest), emitted by one ``posexplode``; band index =
    hash index // (n_hashes // bands). Each bucket is one window whose
    members are expanded into pairs (:func:`_bucket_pairs`): one
    shuffle on (band_idx, band_key), bucket-local, never all-pairs, and
    no self-join (which would compute the signatures twice, once per
    side).

    ``max_bucket_size`` drops buckets with more members before any
    member list is built: one mega-cluster (10^6 boilerplate copies)
    makes its bucket quadratic (10^12 pairs). Members of dropped buckets
    are byte-near-identical en masse — exact dedup
    (:func:`exact_duplicates`) is the right operator for them, not
    pairwise LSH; the cap bounds every bucket's pair count to
    max_bucket_size² by construction. The bucket count is a window over
    the same (band_idx, band_key) partitioning and sort the pairs reuse."""
    keyed = _shingle_digests(df, text_col, id_col, shingle_k).select(
        F.col(id_col), F.expr(_minhash_sig_sql(n_hashes)).alias("_sig")
    ).select(
        F.col(id_col),
        F.posexplode(F.expr(_lsh_bands_sql(n_hashes, n_hashes // bands))).alias("band_idx", "band_key"),
    )
    item = F.struct(F.col(id_col).alias("id"))
    pairs = _bucket_pairs(keyed, ["band_idx", "band_key"], item, max_bucket_size)
    return pairs.select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")).distinct()


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_k: int = 3, threshold: float = 0.8,
    candidates: Optional[DataFrame] = None,
    max_doc_freq: Optional[int] = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for pairs ≥ threshold.

    With ``candidates`` (e.g. from :func:`lsh_band_pairs`) verifies only
    those; without, an inverted-index self-join on shingles (still not
    all-pairs: the join key is the shingle).

    ``max_doc_freq`` drops shingles whose document frequency exceeds the
    cap BEFORE the join — from both the intersection AND the union, i.e.
    Jaccard is computed over the non-stop shingle sets. Without the cap
    one boilerplate shingle ("of the and") makes its join key quadratic
    at corpus scale; the cap bounds every bucket to ≤ max_doc_freq docs.
    Recall consequence: a pair whose overlap is ONLY capped shingles is
    missed (that overlap is boilerplate by definition — standard
    stop-shingle practice). The frequency agg is map-side combinable and
    shares the shingle shuffle key with the join. ``None`` disables."""
    # the word array is a physical column before word_shingles' lambda
    # reads it (CLAUDE.md: an inlined closure re-tokenizes per shingle)
    sh = df.select(F.col(id_col), norm_words(F.col(text_col)).alias("_w")).select(
        F.col(id_col), F.explode(F.array_distinct(word_shingles(F.col("_w"), shingle_k))).alias("sh")
    )
    if max_doc_freq is not None:
        keep = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("sh")
        )
        sh = sh.join(keep, "sh", "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    if candidates is not None:
        inter = inter.join(candidates, ["id_a", "id_b"], "left_semi")
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b",
            (F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """Per-document SimHash: sign-aggregated word-hash bits.

    bit_j(doc) = 1 iff #{words with hash bit j set} > n_words/2.
    Pure array algebra (transform + aggregate), no explode.
    """
    words = norm_words(F.col(text_col))
    # materialize the hash array once — every bit count reads it, and an
    # inlined Column closure would re-hash every word once per bit
    hashed = df.select(
        F.col(id_col),
        F.transform(words, lambda w: _hash64(w)).alias("_hs"),
        F.size(words).alias("n_words"),
    )
    return hashed.select(F.col(id_col), F.expr(_simhash_vote_sql(bits)).alias("simhash"), F.col("n_words"))


@lru_cache(maxsize=16)
def _simhash_vote_sql(bits: int) -> str:
    """The majority vote over ``_hs`` for every bit as one SQL string:
    one py4j call per plan, where a Column tree costs ~150 round trips
    per bit (CLAUDE.md). Bit j is set iff its count among the word
    hashes exceeds half their number; a null array votes 0.

    ``size(_hs)`` stands in for ``n_words`` (equal, null included) so
    the string reads ``_hs`` twice and nothing else: Catalyst's
    CollapseProject inlines a producer read once — into the lambda, once
    per bit — and a caller that prunes ``n_words`` would otherwise leave
    ``_hs`` with that one read."""
    count = "aggregate(_hs, 0L, (c, h) -> c + (shiftright(h, j) & 1))"
    return (
        f"aggregate(sequence(0, {bits - 1}), 0L, (acc, j) -> "
        f"acc + IF({count} * 2 > size(_hs), shiftleft(1L, j), 0L))"
    )


def simhash_pairs(
    df: DataFrame, id_col: str = "doc_id", max_hamming: int = 3, bits: int = 32,
    max_block_size: Optional[int] = None,
) -> DataFrame:
    """Near-dup candidates: simhash hamming distance ≤ max_hamming.

    Scale path: block on 4 simhash quarters (pigeonhole — any pair
    within hamming 3 agrees on ≥1 quarter), emitted by one
    ``posexplode``; each block is one window whose members are paired
    (:func:`_bucket_pairs`), no self-join; the Hamming filter runs
    before the pairs' ``distinct``. ``max_block_size`` drops
    over-full blocks before any member list is built (the mega-cluster
    guard, same rationale as :func:`lsh_band_pairs.max_bucket_size`).
    """
    keyed = df.select(
        F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sh")).alias("_it"),
        F.posexplode(F.expr(_simhash_quarters_sql(bits))).alias("block_q", "block_key"),
    )
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        _bucket_pairs(keyed, ["block_q", "block_key"], F.col("_it"), max_block_size)
        .filter(hamming <= max_hamming)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), hamming.alias("hamming"))
        .distinct()
    )


@lru_cache(maxsize=16)
def _simhash_quarters_sql(bits: int) -> str:
    """The four block keys of ``simhash`` (its ``bits // 4``-bit
    quarters, low quarter first) as one SQL array."""
    quarter = bits // 4
    mask = (1 << quarter) - 1
    return "array(" + ", ".join(
        f"shiftright(simhash, {q * quarter}) & {mask}" for q in range(4)
    ) + ")"


# ----------------------------------------------------------------------
# near-dup cluster resolution (connected components + canonical keeper)
# ----------------------------------------------------------------------
def _star_forest(pairs: DataFrame, id_a: str, id_b: str, max_iter: int) -> DataFrame:
    """The converged star forest over ``pairs``: distinct (u, v) edges,
    one per non-root node ``u``, pointing at its component's minimum
    node ``v``. These are the connected components, found by alternating
    **large-star / small-star** contraction (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"); the minimum-id
    label is deterministic regardless of round count or partitioning.

    Not min-label propagation: a near-dup CHAIN (doc₁~doc₂~…~docₖ) makes
    label propagation take diameter rounds, while star contraction
    converges in O(log² n) rounds worst-case and 3-5 rounds on real
    dedup graphs. Each round is two groupBy+join passes on the edge key,
    with no driver-side union-find and no collect, and the edge set only
    shrinks toward one star per component.

    The input step normalizes every edge to u > v, drops self-loops and
    eagerly checkpoints the result, duplicates included: the first
    round's ``distinct`` removes them, so a separate one would be one
    more exchange for nothing. The checkpoint stays, because each round
    references its input more than once, and an unmaterialized input
    would re-run the whole candidate-generation plan once per reference.

    Then alternating large-star/small-star rounds until the edge set is
    a star forest; every round's result is eagerly checkpointed.

    A star forest (every ``u`` has exactly one ``v``, and no ``v`` is
    also a ``u``) is the contraction's fixpoint — a round maps it to
    itself — and the state it converges to (Kiveris et al. 2014), so the
    first round that reaches it ends the loop, with the same edges as
    running until the edge set stops changing: per round one checkpoint
    job and one :func:`_cc_not_star` ``isEmpty`` job.

    All loop shuffles hash-partition by their operation key into
    ``n_part`` partitions via explicit repartition —
    HashPartitioning(key, n_part) satisfies the ClusteredDistribution of
    every downstream groupBy/join/distinct keyed on (a superset of) that
    key, so EnsureRequirements inserts no further exchange and the
    session's ``spark.sql.shuffle.partitions`` never applies inside the
    loop. The edge set shrinks round over round, so a shuffle width sized
    for the big scan would be a sea of empty tasks per round; clamping
    per plan, not by setting the session conf, leaves concurrent queries
    on the same session unaffected. ``n_part`` tracks the cluster's
    total cores, so it is not a local-mode setting."""
    n_part = max(pairs.sparkSession.sparkContext.defaultParallelism, 8)
    e = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        e = _cc_round(e, n_part).localCheckpoint(eager=True)
        if _cc_not_star(e, n_part).isEmpty():
            return e
    raise ValueError(
        f"dedup_clusters did not converge in {max_iter} rounds"
    )


def _cc_not_star(e: DataFrame, n_part: int) -> DataFrame:
    """Nodes that keep ``e`` from being a star forest: a node with more
    than one out-edge (``u`` → two hubs), or with both an out-edge and
    an in-edge (a ``v`` that is also a ``u``).  ``e`` holds distinct
    edges, so counting out-edges counts distinct hubs.  One exchange,
    REPARTITION_BY_NUM on ``n_part``; the groupBy reuses it."""
    return (
        e.select(F.col("u").alias("node"), F.lit(1).alias("n_out"), F.lit(0).alias("n_in"))
        .union(e.select(F.col("v").alias("node"), F.lit(0), F.lit(1)))
        .repartition(n_part, "node")
        .groupBy("node")
        .agg(F.sum("n_out").alias("n_out"), F.max("n_in").alias("n_in"))
        .filter((F.col("n_out") > 1) | ((F.col("n_out") == 1) & (F.col("n_in") == 1)))
    )


def _cc_round(e: DataFrame, n_part: int) -> DataFrame:
    """One large-star + small-star contraction round (pre-checkpoint).

    Exactly three exchanges, all explicit REPARTITION_BY_NUM on
    ``n_part`` — the plan suite asserts EnsureRequirements adds none
    (i.e. the session's shuffle.partitions never applies here)."""
    # large-star: every neighbor LARGER than n links to
    # m(n) = min(Γ(n) ∪ {n}); invariant u > v holds on the output
    # because m ≤ n < nb.
    sym = (
        e.select(F.col("u").alias("n"), F.col("v").alias("nb"))
        .union(e.select(F.col("v").alias("n"), F.col("u").alias("nb")))
        .repartition(n_part, "n")
    )
    mins = sym.groupBy("n").agg(F.min("nb").alias("mn"))
    ls = (
        sym.join(mins, "n")
        .filter(F.col("nb") > F.col("n"))
        .select(
            F.col("nb").alias("u"),
            F.least(F.col("n"), F.col("mn")).alias("v"),
        )
        # partitioning by u alone satisfies the (u, v) distinct AND
        # the small-star groupBy/join on u below — one exchange
        .repartition(n_part, "u")
        .distinct()
    )
    # small-star: edges already point large→small, so per u the
    # min smaller-neighbor mn is the hub; every other member of
    # Γ(u) ∪ {u} links to it.
    mins2 = ls.groupBy("u").agg(F.min("v").alias("mn"))
    return (
        ls.join(mins2, "u")
        .select(F.col("v").alias("x"), F.col("mn"))
        .filter(F.col("x") != F.col("mn"))
        .union(mins2.select(F.col("u").alias("x"), F.col("mn")))
        .repartition(n_part, "x")
        .distinct()
        .select(F.col("x").alias("u"), F.col("mn").alias("v"))
    )


def dedup_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 25,
) -> DataFrame:
    """Resolve near-dup PAIRS into clusters with one canonical keeper:
    ``(doc_id, cluster_id, is_canonical)`` for every document in ``df``.

    This is the step a real training-data curation pipeline applies
    after MinHash-LSH / SimHash candidate generation (the round-3 gap):
    transitive closure over the union of pair edges, deterministic
    min-id canonical per cluster, singletons kept as their own
    canonical. Downstream corpus selection keeps ``is_canonical`` rows
    only — exactly what :func:`exact_duplicates`'s ``canonical_id``
    already provides for byte-identical dups, extended to fuzzy.
    """
    forest = _star_forest(pairs, id_a, id_b, max_iter)
    # a document outside every edge, or a root (no u-row), is its own
    # cluster's canonical
    cluster = F.coalesce(F.col("v"), F.col(id_col))
    return (
        df.select(id_col)
        .join(forest.withColumnRenamed("u", id_col), id_col, "left")
        .select(
            F.col(id_col),
            cluster.alias("cluster_id"),
            (cluster == F.col(id_col)).alias("is_canonical"),
        )
    )


# ----------------------------------------------------------------------
# language id / quality / tokens / fingerprint
# ----------------------------------------------------------------------
# Tie-break priority = dict order (en first); both the Catalyst
# expression and the generated DuckDB oracle derive from this dict, so
# adding a language updates both engines in lockstep.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "de", "un", "une", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "de", "un", "una", "que", "por"],
    "it": ["il", "la", "che", "di", "e", "un", "una", "per", "non", "sono"],
    "pt": ["o", "a", "os", "as", "e", "de", "um", "uma", "que", "para"],
    "nl": ["de", "het", "een", "en", "van", "is", "dat", "niet", "op", "te"],
}


@lru_cache(maxsize=64)
def _lit_str_array(vals: tuple) -> Column:
    # one SQL-parsed py4j call per list instead of len(vals) F.lit
    # round trips (CLAUDE.md literal-array rule); stopwords are plain
    # ascii words, no quoting hazards
    return F.expr("array(" + ",".join("'" + v + "'" for v in vals) + ")")


def stopword_hits(words: Column, lang: str) -> Column:
    sw = _lit_str_array(tuple(STOPWORDS[lang]))
    return F.size(F.filter(words, lambda w: F.array_contains(sw, w)))


def language_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", append: bool = False
) -> DataFrame:
    """Stopword-hit argmax over STOPWORDS' languages; 'und'
    (undetermined) if 0 hits. Ties break by dict order, en first
    (greatest-struct trick: score desc, then fixed priority).

    ``append=True`` keeps every input column and adds only
    ``lang_pred`` — the shuffle-free composition mode (a per-doc
    projection never needs a join on the id)."""
    langs = list(STOPWORDS)
    pfx = "_h_" if append else "hits_"
    lead = ["*"] if append else [F.col(id_col)]
    tokenized = df.select(*lead, norm_words(F.col(text_col)).alias("_w"))
    words = F.col("_w")
    scored = tokenized.select(
        "*",
        *[stopword_hits(words, lg).alias(f"{pfx}{lg}") for lg in langs],
    )
    best = F.greatest(
        *[
            F.struct(
                F.col(f"{pfx}{lg}").alias("hits"),
                F.lit(len(langs) - i).alias("prio"),
                F.lit(lg).alias("lang"),
            )
            for i, lg in enumerate(langs)
        ]
    )
    pred = F.when(best["hits"] == 0, F.lit("und")).otherwise(best["lang"]).alias("lang_pred")
    if append:
        return scored.select("*", pred).drop("_w", *[f"{pfx}{lg}" for lg in langs])
    return scored.select(
        id_col,
        F.size(words).alias("n_words"),
        *[f"{pfx}{lg}" for lg in langs],
        pred,
    )


def quality_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", append: bool = False
) -> DataFrame:
    """Composite quality signals in one pass (all length/replace based
    so the DuckDB oracle is expression-identical). ``append=True`` keeps
    every input column (shuffle-free composition mode)."""
    base = df.select("*", norm_words(F.col(text_col)).alias("_w"))
    t = F.col(text_col)
    n_chars = F.length(t)
    words = F.col("_w")
    n_words = F.size(words)
    mean_word_len = F.when(n_words > 0, (F.length(F.array_join(words, "")) / n_words)).otherwise(0.0)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[!\"#$%&'()*+,\-./:;<=>?@\[\]^_`{|}~]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0)
    sw_hits = stopword_hits(words, "en")
    stop_ratio = F.when(n_words > 0, sw_hits / n_words).otherwise(0.0)
    upper_ratio = F.when(
        n_chars > 0, (n_chars - F.length(F.regexp_replace(t, "[A-Z]", ""))) / n_chars
    ).otherwise(0.0)
    score = (
        F.when((n_words >= 10) & (n_words <= 100000), 0.25).otherwise(0.0)
        + F.when((mean_word_len >= 3) & (mean_word_len <= 12), 0.25).otherwise(0.0)
        + F.when(punct_ratio <= 0.2, 0.25).otherwise(0.0)
        + F.when(stop_ratio >= 0.05, 0.25).otherwise(0.0)
    )
    cols = [
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(upper_ratio, 6).alias("upper_ratio"),
        score.alias("quality_score"),
    ]
    if append:
        return base.select("*", *cols).drop("_w")
    return base.select(F.col(id_col), *cols)


def token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", append: bool = False
) -> DataFrame:
    """Whitespace tokens + a BPE-ish regex token count (words, numbers,
    punctuation runs counted separately). ``append=True`` keeps every
    input column (shuffle-free composition mode)."""
    t = F.col(text_col)
    ws_tokens = F.size(norm_words(t))
    regex_tokens = F.regexp_count(t, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))
    # ~chars/4 heuristic used by LLM token estimators
    est_bpe = F.ceil(F.length(t) / 4).cast("long")
    cols = [
        ws_tokens.alias("ws_tokens"),
        regex_tokens.alias("regex_tokens"),
        est_bpe.alias("est_bpe_tokens"),
    ]
    if append:
        return df.select("*", *cols)
    return df.select(F.col(id_col), *cols)


def fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    char_k: int = 8, mod_p: int = 8,
) -> DataFrame:
    """0-mod-p winnowing: char k-gram digests ≡ 0 (mod p), sorted distinct.

    The classic document-fingerprint sketch (Broder/Manber style):
    deterministic, locality-insensitive to small edits."""
    # the normalized string is a physical column before the k-gram
    # lambda reads it (an inlined closure re-normalizes per k-gram)
    normed = df.select(
        F.col(id_col), F.lower(F.regexp_replace(F.col(text_col), r"\s+", " ")).alias("_n")
    )
    norm = F.col("_n")
    n = F.length(norm)
    grams = F.when(n < char_k, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(1), n - char_k + 1), lambda i: norm.substr(i, F.lit(char_k)))
    )
    hashes = F.transform(grams, lambda g: _hash64(g))
    selected = F.array_sort(F.array_distinct(F.filter(hashes, lambda h: h % mod_p == 0)))
    return normed.select(F.col(id_col), selected.alias("fingerprint"), F.size(selected).alias("fp_size"))


# ----------------------------------------------------------------------
# PII redaction + repetition signals (training-data hygiene operators)
# ----------------------------------------------------------------------
# Conservative regex subset evaluated identically by Java (Spark) and
# RE2 (DuckDB): character classes, bounded quantifiers, \b. Applied in
# list order — each pattern counts/redacts on the PREVIOUS pattern's
# output, mirrored exactly in the oracle SQL.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9][0-9()\- ]{6,}[0-9]", "<PHONE>"),
]


def redact_pii(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Redact emails / IPv4s / phone-ish digit runs; emit per-kind
    counts and the redacted text. One narrow projection, no shuffle —
    at corpus scale this is a pure map stage."""
    stage = df.select(F.col(id_col), F.col(text_col).alias("_t"))
    counts = []
    cur = "_t"
    for i, (kind, pat, token) in enumerate(PII_PATTERNS):
        nxt = f"_t{i}"
        stage = stage.select(
            "*",
            F.regexp_count(F.col(cur), F.lit(pat)).alias(f"n_{kind}s"),
            F.regexp_replace(F.col(cur), pat, token).alias(nxt),
        )
        counts.append(f"n_{kind}s")
        cur = nxt
    return stage.select(
        F.col(id_col),
        *[F.col(c).cast("int").alias(c) for c in counts],
        F.col(cur).alias("redacted_text"),
    )


def repetition_signals(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition quality signals, explode-free:

    - ``dup_line_frac``   1 − distinct/total over trimmed non-empty lines;
    - ``top_bigram_frac`` occurrences of the most frequent word bigram
      over total bigrams (O(d·n) per document via distinct×filter —
      documents are bounded, the corpus is not; no shuffle).
    """
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    # the word array is a physical column before word_shingles' lambda
    # reads it (an inlined closure re-tokenizes per bigram)
    base = df.select(
        F.col(id_col), lines.alias("_ln"), norm_words(F.col(text_col)).alias("_w")
    ).select(F.col(id_col), F.col("_ln"), word_shingles(F.col("_w"), 2).alias("_bg"))
    n_lines = F.size(F.col("_ln"))
    n_dl = F.size(F.array_distinct(F.col("_ln")))
    dup_line_frac = F.when(n_lines > 0, 1.0 - n_dl / n_lines).otherwise(F.lit(0.0))
    n_bg = F.size(F.col("_bg"))
    top = F.array_max(
        F.transform(
            F.array_distinct(F.col("_bg")),
            lambda b: F.size(F.filter(F.col("_bg"), lambda x: x == b)),
        )
    )
    top_frac = F.when(n_bg > 0, top / n_bg).otherwise(F.lit(0.0))
    return base.select(
        F.col(id_col),
        n_lines.cast("int").alias("n_lines"),
        F.round(dup_line_frac, 6).alias("dup_line_frac"),
        n_bg.cast("int").alias("n_bigrams"),
        F.round(top_frac, 6).alias("top_bigram_frac"),
    )


def boilerplate_lines(
    df: DataFrame, min_docs: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style line-level boilerplate detection: trimmed non-empty
    lines occurring in ≥ ``min_docs`` DISTINCT documents (navigation
    chrome, cookie banners, footers at corpus scale).

    One explode + ONE groupBy shuffle on the line key with map-side
    partial aggregation; the distinct-doc count uses count_distinct
    inside the same aggregation (no second shuffle). Line keys are
    bounded by document line length, so no skew guard is needed beyond
    the hash partitioning itself — a pathological mega-line (e.g. ''
    after trim) is filtered before the shuffle."""
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), "\n")).alias("_raw"),
    ).select("doc_id", F.trim(F.col("_raw")).alias("line")).filter(F.col("line") != "")
    return (
        lines.groupBy("line")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def host_col(url: Column) -> Column:
    """scheme://HOST/... → HOST (native regexp, no UDF)."""
    return F.regexp_extract(url, r"^[a-z]+://([^/]+)", 1)


def registered_domain_col(host: Column) -> Column:
    """Public-suffix HEURISTIC: last 3 labels when the 2-level suffix
    is co.uk-style, else last 2 (the single source of truth — the
    domain_stats and domain_quota_sample queries and their SQL twins
    must all track THIS definition)."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    # try_element_at, not element_at: `&` does not short-circuit, so a
    # single-label host ("localhost", n=1) would make element_at(parts, -2)
    # out-of-range — an ANSI-mode error on the driver's plain Spark 4
    # session (ANSI is the default there; our own builder disables it).
    two_level = F.try_element_at(parts, F.lit(-2)).isin(
        "co", "ac", "gov", "org", "net"
    ) & (n >= 3)
    return F.when(
        two_level, F.array_join(F.slice(parts, n - 2, 3), ".")
    ).otherwise(
        F.when(n >= 2, F.array_join(F.slice(parts, n - 1, 2), ".")).otherwise(host)
    )


def domain_stats(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-registered-domain corpus statistics (the CCNet/C4 grouping
    unit for quotas and per-site quality decisions): distinct hosts,
    docs, total chars.

    All native expressions; one groupBy shuffle on the domain key."""
    host = host_col(F.col(url_col))
    return (
        df.select(
            host.alias("host"),
            registered_domain_col(host).alias("domain"),
            F.col("n_chars"),
        )
        .groupBy("domain")
        .agg(
            F.countDistinct("host").alias("n_hosts"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def top_k_per_key(
    df: DataFrame,
    key_cols: List[str],
    order_cols: List[Column],
    k: int,
    tiebreak_col: str,
    n_salt: int = 8,
) -> DataFrame:
    """Skew-safe per-key top-K (corpus curation quota: "best K docs per
    domain"). A single ``row_number`` window over the key is the
    textbook skew trap — one giant key (a mega-domain at 10^12 docs)
    serializes into one task. Two stages instead:

    1. partial top-K within (key, salt) — every task holds ≤ its own
       slice, salt = hash(tiebreak) % n_salt (deterministic);
    2. exact top-K over the ≤ k·n_salt survivors per key.

    ``order_cols`` MUST be made total by including ``tiebreak_col``
    (unique), or tied rows get engine-dependent ranks (the repo's
    ROWS/RANGE lesson). The result is independent of ``n_salt``."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(tiebreak_col)), F.lit(n_salt))
    )
    w1 = Window.partitionBy(*key_cols, "_salt").orderBy(*order_cols)
    pruned = (
        salted.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return pruned.withColumn("rank", F.row_number().over(w2)).filter(
        F.col("rank") <= k
    )
