"""Driver-contract queries: relational coverage + training-data ops.

Relational/TPC-H-ish (exercising scans, pushdown, broadcast joins,
aggregation, windows, sorts/limits, anti-join resume — SURVEY §2.1-2.8
at driver-table scale), streaming analogs on ``events`` (§2.11), and
the north-rule training-data operators (textops/simsearch/multimodal).

Float-parity: every big aggregate sums DECIMAL(18,x) (exact, order-
independent) and casts the result to double — a double-sum would be
partition-order nondeterministic on BOTH engines.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import simsearch, textops
from .extract import map_documents

_EN = textops.STOPWORDS["en"]


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings is likewise one small file; vector ops are CPU-heavy
    interpreted array algebra — spread before computing."""
    n = spark.sparkContext.defaultParallelism
    return _read(spark, sf_dir, "embeddings").repartition(n, "vec_id")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents is a single small parquet file → one input split; the
    per-doc operators are CPU-heavy, so spread by doc-id hash first
    (at production scale the table has many files and this is a no-op
    choice — the operators themselves never require co-location)."""
    n = spark.sparkContext.defaultParallelism
    return _read(spark, sf_dir, "documents").repartition(n, "doc_id")


# ----------------------------------------------------------------------
# TPC-H-ish relational coverage
# ----------------------------------------------------------------------
def q_lineitem_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1-shape scan+filter+groupBy; the date filter must push to the
    parquet scan (asserted in tests via .explain)."""
    li = _read(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") <= F.lit("2001-09-01").cast("date")
    )
    disc = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,6)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
        F.sum(disc).cast("double").alias("sum_disc_price"),
        F.count("*").alias("n_rows"),
    )


SQL_LINEITEM_AGG = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       count(*) AS n_rows
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_nation_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join with both dims broadcast + grouped agg + top-k."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.col("revenue").desc())
        .limit(10)
    )


SQL_NATION_REVENUE_TOPK = """
SELECT n_name,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY revenue DESC LIMIT 10
"""


def q_resume_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checkpoint-resume shape (SURVEY §4): committed keys anti-
    joined out of the input before reprocessing."""
    o = _read(spark, sf_dir, "orders")
    done = o.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey")
    pending = o.join(done, "o_orderkey", "left_anti")
    return pending.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_pending"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("pending_value"),
    )


SQL_RESUME_ANTI_JOIN = """
SELECT o_orderstatus, count(*) AS n_pending,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS pending_value
FROM orders WHERE o_orderkey % 3 <> 0
GROUP BY o_orderstatus
"""


def q_window_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: running total, decimal-exact.

    RANGE frame, not ROWS: the sort key (l_linenumber) is NOT unique in
    the driver tables, and a ROWS frame gives tied rows an engine-
    dependent prefix (passed at small SFs by luck, diverged at sf0.1).
    RANGE sums all peers of the current key together — deterministic
    under ties by construction."""
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).over(w).cast("double").alias("cum_qty"),
    )


SQL_WINDOW_CUMSUM = """
SELECT l_orderkey, l_linenumber,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
         PARTITION BY l_orderkey ORDER BY l_linenumber
         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_qty
FROM lineitem WHERE l_orderkey % 10 = 0
"""


def q_window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: lag-difference per user over the events stream table."""
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return e.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value", 1, 0.0).over(w)).alias("delta"),
    )


SQL_WINDOW_LAG_DELTA = """
SELECT event_id, user_id,
       value - lag(value, 1, 0.0) OVER (PARTITION BY user_id ORDER BY event_id) AS delta
FROM events
"""


def q_year_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W4: explode(sequence(...)) year grid."""
    n = _read(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.explode(F.sequence(F.lit(1), F.lit(3) + F.col("n_nationkey") % 5)).alias("year"),
    ).select(
        "n_nationkey",
        F.col("year").cast("int").alias("year"),
        (F.lit(2020) + F.col("year") - 1).cast("int").alias("calendar_year"),
    )


SQL_YEAR_GRID = """
SELECT n_nationkey, CAST(year AS INT) AS year, CAST(2020 + year - 1 AS INT) AS calendar_year
FROM (SELECT n_nationkey, unnest(generate_series(1, 3 + n_nationkey % 5)) AS year FROM nation) t
"""


# ----------------------------------------------------------------------
# streaming analogs on events (§2.11)
# ----------------------------------------------------------------------
def q_events_hour_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation: events bucketed by the hour
    of their UTC timestamp, with event count, distinct users and value
    sum per hour."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = _read(spark, sf_dir, "events")
    bucket = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 3600).cast("long")
    return e.groupBy(bucket.alias("bucket_hour")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


SQL_EVENTS_HOUR_WINDOW = """
SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket_hour,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native F.session_window gap-session aggregation (batch form of
    streaming.session_window_counts — same operator runs on a stream
    with watermark-closed emission). Microsecond-exact boundaries:
    session end = last event + gap, end-exclusive."""
    from .streaming import session_window_counts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = _read(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    out = session_window_counts(e, gap="30 minutes")
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        F.col("n_events").cast("long").alias("n_events"),
        "sum_value",
    )


SQL_SESSION_WINDOW_AGG = """
WITH g AS (
  SELECT user_id, value, epoch_us(ts) AS us,
         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
         row_number() OVER w AS rn
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, value, us,
         sum(CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, sid
"""


def q_draft_last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 draft-upsert semantics: last write per key wins."""
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


SQL_DRAFT_LAST_WRITE_WINS = """
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type, value AS last_value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


# ----------------------------------------------------------------------
# dedup family (textops) — corpora with planted duplicates
# ----------------------------------------------------------------------
def _dup_corpus(spark: SparkSession, sf_dir: str, exact: bool) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    if exact:
        copies = d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), F.col("text")
        )
    else:
        copies = d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra token here")).alias("text"),
        )
    return d.unionByName(copies)


_SQL_EXACT_CORPUS = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
"""

_SQL_NEAR_CORPUS = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' extra token here' AS text
  FROM documents WHERE doc_id % 10 = 0
"""

# shared SQL fragments mirroring textops.norm_words / word_shingles(k=3)
_SQL_WORDS = "string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')"
_SQL_SHINGLES = (
    "(CASE WHEN len(words) < 3 THEN CAST([] AS VARCHAR[]) "
    "ELSE list_transform(generate_series(1, len(words) - 2), "
    "i -> array_to_string(words[i:i+2], ' ')) END)"
)
_SQL_HASH64 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir, exact=True)
    groups = textops.exact_duplicates(corpus)
    return groups.select(
        "digest",
        "canonical_id",
        "n_docs",
        F.array_join(F.transform(F.col("doc_ids"), lambda x: x.cast("string")), ",").alias(
            "doc_ids_str"
        ),
    )


SQL_DEDUP_EXACT = f"""
WITH corpus AS ({_SQL_EXACT_CORPUS})
SELECT md5(text) AS digest, min(doc_id) AS canonical_id, count(*) AS n_docs,
       array_to_string(list_sort(list(doc_id)), ',') AS doc_ids_str
FROM corpus GROUP BY md5(text) HAVING count(*) > 1
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_bucket_size=50 keeps the mega-bucket guard live in the parity
    # check (planted dup groups are pairs, so the answer is unchanged —
    # the oracle applies the identical HAVING cap)
    corpus = _dup_corpus(spark, sf_dir, exact=False)
    return textops.lsh_band_pairs(corpus, max_bucket_size=50).select("id_a", "id_b")


def _sql_dedup_minhash_lsh() -> str:
    return _sql_lsh_pairs_over(_SQL_NEAR_CORPUS)


def _sql_lsh_pairs_over(corpus_sql: str) -> str:
    """MinHash-LSH band-bucket pair SQL over any (doc_id, text) source —
    identical universal-hash constants as textops.minhash_coeffs(12).

    The inner source CTE is named ``lsh_src``, NOT ``corpus``: when this
    block is nested inside a ``WITH RECURSIVE`` query that also defines
    a ``corpus`` CTE, the shadowing name makes DuckDB 1.0 fail with an
    internal error ("Recursive CTE scan found without recursive CTE
    node")."""
    from .textops import MINHASH_P, minhash_coeffs

    arms = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {i} AS hash_idx,"
        f" list_min(list_transform(mh, m -> ({a} * m + {b}) % {MINHASH_P})) AS min_hash FROM mhs"
        for i, (a, b) in enumerate(minhash_coeffs(12))
    )
    return f"""
WITH lsh_src AS ({corpus_sql}),
sh AS (
  SELECT doc_id, {_SQL_SHINGLES.replace('words', _SQL_WORDS)} AS shingles FROM lsh_src
),
mhs AS (
  SELECT doc_id,
         list_transform(shingles, s -> {_SQL_HASH64.format(x='s')} % {MINHASH_P}) AS mh
  FROM sh
),
sigs AS (
{arms}
),
sigs2 AS (SELECT * FROM sigs WHERE min_hash IS NOT NULL),
banded0 AS (
  SELECT doc_id, band_idx, md5(array_to_string(list_sort(list(min_hash)), '|')) AS band_key
  FROM (SELECT doc_id, CAST(floor(hash_idx / 3) AS INT) AS band_idx, min_hash FROM sigs2) t
  GROUP BY doc_id, band_idx
),
keepb AS (
  SELECT band_idx, band_key FROM banded0 GROUP BY band_idx, band_key HAVING count(*) <= 50
),
banded AS (SELECT banded0.* FROM banded0 JOIN keepb USING (band_idx, band_key))
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_doc_freq=32 exercises the stop-shingle cap non-vacuously: the
    # driver corpus has exactly one shingle above 32 docs at sf0.001 and
    # sf0.01, so the pruning path is live in the parity check
    corpus = _dup_corpus(spark, sf_dir, exact=False)
    return textops.ngram_jaccard_pairs(corpus, threshold=0.5, max_doc_freq=32)


SQL_DEDUP_JACCARD = f"""
WITH corpus AS ({_SQL_NEAR_CORPUS}),
shd0 AS (
  SELECT doc_id, unnest(list_distinct({_SQL_SHINGLES.replace('words', _SQL_WORDS)})) AS s
  FROM corpus
),
keep AS (SELECT s FROM shd0 GROUP BY s HAVING count(*) <= 32),
shd AS (SELECT shd0.* FROM shd0 JOIN keep USING (s)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % 4 == 0).select("doc_id", "text")
    return textops.simhash(d)


def _sql_dedup_simhash() -> str:
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, x -> (x >> {j}) & 1)) * 2 > n_words"
        f" THEN (CAST(1 AS BIGINT) << {j}) ELSE CAST(0 AS BIGINT) END)"
        for j in range(32)
    )
    return f"""
WITH w AS (
  SELECT doc_id, {_SQL_WORDS} AS words FROM documents WHERE doc_id % 4 = 0
),
h AS (
  SELECT doc_id, len(words) AS n_words,
         list_transform(words, x -> {_SQL_HASH64.format(x='x')}) AS hs
  FROM w
)
SELECT doc_id, ({terms}) AS simhash, CAST(n_words AS INT) AS n_words FROM h
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir, exact=False)
    sims = textops.simhash(corpus)
    return textops.simhash_pairs(sims).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def _sql_simhash_pairs() -> str:
    base = _sql_dedup_simhash().replace(
        "FROM documents WHERE doc_id % 4 = 0", f"FROM ({_SQL_NEAR_CORPUS}) c"
    )
    return f"""
WITH s AS ({base})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup CLUSTER resolution (the round-3 gap): union the
    MinHash-LSH and SimHash pair edges, run distributed connected
    components, emit one row per corpus doc with its cluster and the
    deterministic min-id canonical keeper."""
    corpus = _dup_corpus(spark, sf_dir, exact=False)
    lsh = textops.lsh_band_pairs(corpus, max_bucket_size=50).select("id_a", "id_b")
    sh = textops.simhash_pairs(textops.simhash(corpus)).select("id_a", "id_b")
    return textops.dedup_clusters(corpus, lsh.unionByName(sh))


_CC_ROUNDS = 6


def _sql_cc_chain() -> str:
    """CTE-chain fragment computing connected-component ``labels``
    (doc_id, cluster_id, is_canonical) from two CTEs the caller must
    define: ``edges0`` (id_a, id_b) and ``ccorpus`` (doc_id = the full
    node universe, singletons included). Must be spliced into a
    ``WITH RECURSIVE`` list AFTER those two.

    Round-4 rewrite after the sf1 fixture (16M near-clique edges over
    55k nodes) broke the old 2-pass star-contraction + symmetric-walk
    form two ways:

    1. DuckDB 1.0's join-order optimizer turned the 3-way contraction
       join into ``b0 NESTED_LOOP_JOIN b0 ON b != b`` FIRST (a 55k×55k
       ~3G-row cross product, est. 1.4M) and probed sym0 afterwards —
       hours and ~36 GiB.  Each contraction now runs as TWO staged
       2-way hash joins through a MATERIALIZED intermediate (hN), which
       the optimizer cannot reorder across.
    2. The final reachability walk over a SYMMETRIC graph computes the
       full k² closure of every residual component; sf1's mega-
       components (≥5k nodes) made that explode.  The chain now
       contracts the HUB graph only (star edges dropped; per-node
       labels carried by pointer-jumping composition labN:
       l := COALESCE(b_i[l], l)) for {_CC_ROUNDS} rounds — 16M → 134k
       → 5.3k → 136 → 12 → 2 → 0 edges on the sf1 graph, ~1.6 s total
       — and the recursive walk runs only on the tiny residual g{_CC_ROUNDS}
       as a termination safety net (empty when contraction converged).

    Correctness: with b(x) = min(Γ(x) ∪ {{x}}) and every edge (n,m)
    relabeled to (b(n), b(m)), hub-graph components correspond to
    original components, labels only decrease and stay within the
    component, and the component minimum m survives every round
    (b(m) = m).  MATERIALIZED everywhere: DuckDB would otherwise
    inline (and re-evaluate) the expensive edge CTEs."""
    K = _CC_ROUNDS
    parts = [
        """g0 AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM edges0
  UNION
  SELECT id_b AS src, id_a AS dst FROM edges0
)"""
    ]
    for i in range(K):
        parts.append(
            f"b{i} AS MATERIALIZED (SELECT src AS n, LEAST(MIN(dst), src) AS b"
            f" FROM g{i} GROUP BY src)"
        )
        parts.append(
            f"h{i} AS MATERIALIZED (SELECT ba.b AS u, s.dst AS dst"
            f" FROM g{i} s JOIN b{i} ba ON ba.n = s.src)"
        )
        # relabeled graph stays symmetric: edge (n,m) and its mirror
        # (m,n) map to (b(n),b(m)) and (b(m),b(n))
        parts.append(
            f"g{i + 1} AS MATERIALIZED (SELECT DISTINCT h.u AS src, bb.b AS dst"
            f" FROM h{i} h JOIN b{i} bb ON bb.n = h.dst WHERE h.u <> bb.b)"
        )
    parts.append(
        "lab0 AS MATERIALIZED (SELECT c.doc_id, COALESCE(b0.b, c.doc_id) AS l"
        " FROM ccorpus c LEFT JOIN b0 ON b0.n = c.doc_id)"
    )
    for i in range(1, K):
        parts.append(
            f"lab{i} AS MATERIALIZED (SELECT doc_id, COALESCE(b{i}.b, l) AS l"
            f" FROM lab{i - 1} LEFT JOIN b{i} ON b{i}.n = lab{i - 1}.l)"
        )
    parts.append(
        f"""walk(id, r) AS (
  SELECT src, src FROM g{K}
  UNION
  SELECT w.id, s.dst FROM walk w JOIN g{K} s ON s.src = w.r
)"""
    )
    parts.append("hubmin AS (SELECT id, MIN(r) AS m FROM walk GROUP BY id)")
    parts.append(
        f"""labels AS (
  SELECT lb.doc_id,
         COALESCE(hm.m, lb.l) AS cluster_id,
         (COALESCE(hm.m, lb.l) = lb.doc_id) AS is_canonical
  FROM lab{K - 1} lb LEFT JOIN hubmin hm ON hm.id = lb.l
)"""
    )
    return ",\n".join(parts)


def _sql_dedup_clusters() -> str:
    # reachability closure over the SAME edge SQL the pair queries use;
    # UNION (set semantics) guarantees termination, MIN(r) per id is the
    # min-reachable node = the Spark operator's cluster label
    lsh = _sql_dedup_minhash_lsh()
    sim = _sql_simhash_pairs()
    return f"""
WITH RECURSIVE
lsh AS MATERIALIZED ({lsh}),
sim AS MATERIALIZED ({sim}),
edges0 AS (SELECT id_a, id_b FROM lsh UNION SELECT id_a, id_b FROM sim),
ccorpus AS MATERIALIZED (SELECT doc_id FROM ({_SQL_NEAR_CORPUS}) nc),
{_sql_cc_chain()}
SELECT doc_id, cluster_id, is_canonical FROM labels
"""


# ----------------------------------------------------------------------
# language id / quality / tokens / fingerprint
# ----------------------------------------------------------------------
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.language_id(_docs(spark, sf_dir))


def _sql_language_id() -> str:
    def hits(lang: str) -> str:
        lst = "[" + ", ".join(f"'{w}'" for w in textops.STOPWORDS[lang]) + "]"
        return f"len(list_filter(words, w -> list_contains({lst}, w)))"

    langs = list(textops.STOPWORDS)
    hit_cols = ", ".join(f"{hits(lg)} AS hits_{lg}" for lg in langs)
    mx = "greatest(" + ", ".join(f"hits_{lg}" for lg in langs) + ")"
    pred = " ".join(f"WHEN hits_{lg} = {mx} THEN '{lg}'" for lg in langs)
    return f"""
WITH w AS (SELECT doc_id, {_SQL_WORDS} AS words FROM documents),
h AS (SELECT doc_id, CAST(len(words) AS INT) AS n_words, {hit_cols} FROM w)
SELECT doc_id, n_words, {', '.join('CAST(hits_' + lg + ' AS INT) AS hits_' + lg for lg in langs)},
       (CASE WHEN {mx} = 0 THEN 'und' {pred} END) AS lang_pred
FROM h
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.quality_score(_docs(spark, sf_dir))


def _sql_quality_score() -> str:
    en = "[" + ", ".join(f"'{w}'" for w in _EN) + "]"
    punct_cls = "[!\"#$%&''()*+,\\-./:;<=>?@\\[\\]^_`{|}~]"
    return f"""
WITH base AS (
  SELECT doc_id, text, length(text) AS n_chars, {_SQL_WORDS} AS words FROM documents
),
m AS (
  SELECT doc_id, n_chars, CAST(len(words) AS INT) AS n_words,
         CASE WHEN len(words) > 0 THEN length(array_to_string(words, '')) / len(words) ELSE 0.0 END AS mwl,
         (n_chars - length(regexp_replace(text, '{punct_cls}', '', 'g'))) AS n_punct,
         len(list_filter(words, w -> list_contains({en}, w))) AS sw_hits,
         (n_chars - length(regexp_replace(text, '[A-Z]', '', 'g'))) AS n_upper
  FROM base
),
r AS (
  SELECT doc_id, CAST(n_chars AS INT) AS n_chars, n_words, mwl,
         CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS pr,
         CASE WHEN n_words > 0 THEN sw_hits / n_words ELSE 0.0 END AS sr,
         CASE WHEN n_chars > 0 THEN n_upper / n_chars ELSE 0.0 END AS ur,
         (CASE WHEN n_words BETWEEN 10 AND 100000 THEN CAST(0.25 AS DOUBLE) ELSE 0.0 END
          + CASE WHEN mwl >= 3 AND mwl <= 12 THEN CAST(0.25 AS DOUBLE) ELSE 0.0 END) AS s1,
         (CASE WHEN (CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) <= 0.2
               THEN CAST(0.25 AS DOUBLE) ELSE 0.0 END
          + CASE WHEN (CASE WHEN n_words > 0 THEN sw_hits / n_words ELSE 0.0 END) >= 0.05
               THEN CAST(0.25 AS DOUBLE) ELSE 0.0 END) AS s2
  FROM m
)
SELECT doc_id, n_chars, n_words,
       round(mwl, 6) AS mean_word_len,
       round(pr, 6) AS punct_ratio,
       round(sr, 6) AS stop_ratio,
       round(ur, 6) AS upper_ratio,
       (s1 + s2) AS quality_score
FROM r
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.token_counts(_docs(spark, sf_dir))


SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
       CAST(len({_SQL_WORDS}) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS regex_tokens,
       CAST(ceil(length(text) / 4) AS BIGINT) AS est_bpe_tokens
FROM documents
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % 3 == 0)
    fp = textops.fingerprint(d)
    return fp.select(
        "doc_id",
        F.array_join(F.transform(F.col("fingerprint"), lambda x: x.cast("string")), ",").alias(
            "fp_str"
        ),
        F.col("fp_size").cast("int").alias("fp_size"),
    )


SQL_FINGERPRINT = f"""
WITH n AS (
  SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
  FROM documents WHERE doc_id % 3 = 0
),
g AS (
  SELECT doc_id,
         CASE WHEN length(norm) < 8 THEN CAST([] AS VARCHAR[])
              ELSE list_transform(generate_series(1, length(norm) - 7), i -> substr(norm, i, 8))
         END AS grams
  FROM n
),
sel AS (
  SELECT doc_id,
         list_sort(list_distinct(list_filter(
           list_transform(grams, x -> {_SQL_HASH64.format(x='x')}), h -> h % 8 = 0))) AS fp
  FROM g
)
SELECT doc_id,
       array_to_string(list_transform(fp, x -> CAST(x AS VARCHAR)), ',') AS fp_str,
       CAST(len(fp) AS INT) AS fp_size
FROM sel
"""


# ----------------------------------------------------------------------
# similarity search
# ----------------------------------------------------------------------
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = simsearch.cosine_topk(emb, queries, k=10)
    return out.select(
        "query_id", "vec_id", "rank", F.round(F.col("cosine_sim"), 6).alias("cosine_sim")
    )


SQL_ANN_COSINE_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 8
),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (
  SELECT q.query_id, c.vec_id,
         list_inner_product(c.v, q.qv)
           / (sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(q.qv, q.qv))) AS sim
  FROM c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
),
r AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM s
)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank, round(sim, 6) AS cosine_sim
FROM r WHERE rank <= 10
"""


def q_ann_rp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate (LSH) ANN. Approximate ≠ nondeterministic: the
    hyperplanes derive from fixed seeds, so the exact answer (bucket
    collisions + exact rerank) has a full DuckDB oracle built from the
    SAME plane literals. Recall-vs-exact is additionally asserted in
    tests/test_simsearch.py."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = simsearch.rp_lsh_topk(emb, queries, dim=64, k=10, bits=6, tables=4)
    return out.select(
        "query_id", "vec_id", "rank", F.round(F.col("cosine_sim"), 6).alias("cosine_sim")
    )


_SQL_COS = (
    "list_inner_product({a}, {b})"
    " / (sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b})))"
)


def _sql_rp_bucket_arms(vcol: str, dim: int, bits: int, tables: int, seed: int = 7) -> str:
    """The b-bit sign signature per table as a CASE over ``tbl`` — the
    hyperplane LITERALS come from the same simsearch.hyperplane(seed)
    the Spark numpy kernel uses, so buckets match bit for bit."""
    arms = []
    for t in range(tables):
        terms = []
        for b in range(bits):
            pl = simsearch.hyperplane(seed + t * 10_007 + b, dim)
            lit = "CAST([" + ",".join(repr(x) for x in pl) + "] AS DOUBLE[])"
            terms.append(
                f"(CASE WHEN list_inner_product({vcol}, {lit}) >= 0 THEN {1 << b} ELSE 0 END)"
            )
        arms.append(f"WHEN {t} THEN (" + " + ".join(terms) + ")")
    return "(CASE tbl " + " ".join(arms) + " END)"


def _sql_ann_rp_lsh() -> str:
    bucket = _sql_rp_bucket_arms("v", 64, 6, 4)
    sim = _SQL_COS.format(a="cv.v", b="qv.v")
    return f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
keyed AS (
  SELECT vec_id, v, t.tbl, {bucket} AS bucket
  FROM c CROSS JOIN (SELECT unnest(range(4)) AS tbl) t
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, a.vec_id
  FROM keyed a JOIN keyed q ON a.tbl = q.tbl AND a.bucket = q.bucket
  WHERE q.vec_id < 8 AND a.vec_id <> q.vec_id
),
s AS (
  SELECT cand.query_id, cand.vec_id, {sim} AS sim
  FROM cand JOIN c cv ON cv.vec_id = cand.vec_id JOIN c qv ON qv.vec_id = cand.query_id
),
r AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM s
)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank, round(sim, 6) AS cosine_sim
FROM r WHERE rank <= 10
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN. The centroid hash (simsearch.ivf_bucket) is plain
    integer arithmetic both engines evaluate identically, so the whole
    probe/rerank answer has an exact DuckDB oracle."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = simsearch.ivf_topk(emb, queries, k=10, n_centroids=16, nprobe=4)
    return out.select(
        "query_id", "vec_id", "rank", F.round(F.col("cosine_sim"), 6).alias("cosine_sim")
    )


def _sql_ann_ivf(n_centroids: int = 16, nprobe: int = 4, k: int = 10) -> str:
    from .simsearch import IVF_HASH_P

    bucket = f"((vec_id * 1000003 + 12345) % {IVF_HASH_P}) % {n_centroids}"
    asg_sim = _SQL_COS.format(a="c.v", b="cv.cvec")
    probe_sim = _SQL_COS.format(a="q.v", b="cv.cvec")
    rerank_sim = _SQL_COS.format(a="cand.v", b="qv.v")
    return f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT min(vec_id) AS cid FROM (SELECT vec_id, {bucket} AS b FROM c) GROUP BY b),
cv AS (SELECT cent.cid, c.v AS cvec FROM cent JOIN c ON c.vec_id = cent.cid),
asg AS (
  SELECT vec_id, v, cid AS list_id FROM (
    SELECT c.vec_id, c.v, cv.cid,
           row_number() OVER (PARTITION BY c.vec_id ORDER BY {asg_sim} DESC, cv.cid) AS rn
    FROM c CROSS JOIN cv
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, list_id FROM (
    SELECT q.vec_id AS query_id, cv.cid AS list_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY {probe_sim} DESC, cv.cid) AS pr
    FROM c q CROSS JOIN cv WHERE q.vec_id < 8
  ) WHERE pr <= {nprobe}
),
cand AS (
  SELECT p.query_id, a.vec_id, a.v
  FROM asg a JOIN probes p ON a.list_id = p.list_id
  WHERE a.vec_id <> p.query_id
),
s AS (
  SELECT cand.query_id, cand.vec_id, {rerank_sim} AS sim
  FROM cand JOIN c qv ON qv.vec_id = cand.query_id
),
r AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM s
)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank, round(sim, 6) AS cosine_sim
FROM r WHERE rank <= {k}
"""


# ----------------------------------------------------------------------
# multimodal plumbing: opaque binary column → metadata via mapInPandas
# ----------------------------------------------------------------------
def _mm_meta(doc_id: int, blob) -> List[tuple]:
    import hashlib

    data = bytes(blob)
    # deterministic fake decode — a real deployment swaps this for
    # PIL/ffmpeg; the Spark-side plumbing (binary column, Arrow
    # batching, schema) is identical either way
    return [(
        int(doc_id),
        len(data),
        hashlib.md5(data).hexdigest(),
        int(data[0]) % 64 + 1 if data else 0,
        int(data[1]) % 64 + 1 if len(data) > 1 else 0,
    )]


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode plumbing: documents.text → bytes (stand-in
    for image/audio payloads) → Arrow-batched metadata extraction."""
    return map_documents(
        _read(spark, sf_dir, "documents"),
        ["doc_id", F.encode("text", "UTF-8").alias("blob")],
        "doc_id long, n_bytes int, digest string, width int, height int",
        _mm_meta,
    )


SQL_MULTIMODAL_META = """
SELECT doc_id,
       CAST(length(text) AS INT) AS n_bytes,
       md5(text) AS digest,
       CAST(ascii(substr(text, 1, 1)) % 64 + 1 AS INT) AS width,
       CAST(ascii(substr(text, 2, 1)) % 64 + 1 AS INT) AS height
FROM documents
"""


# ----------------------------------------------------------------------
# PII redaction + repetition signals
# ----------------------------------------------------------------------
_PII_PLANT = " contact admin@example.com or 192.168.1.10 or +1 (555) 123-4567"


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII hygiene pass with planted PII (doc_id % 7 == 0) so counts
    and replacements are non-trivially checked; redacted text compared
    via md5."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(_PII_PLANT)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = textops.redact_pii(d)
    return out.select(
        "doc_id", "n_emails", "n_ips", "n_phones",
        F.md5("redacted_text").alias("redacted_md5"),
    )


def _sql_pii_redaction() -> str:
    from .textops import PII_PATTERNS

    sql = f"""
WITH s0 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || '{_PII_PLANT}' ELSE text END AS t0
  FROM documents
)"""
    cur = "t0"
    prev = "s0"
    counts = []
    for i, (kind, pat, token) in enumerate(PII_PATTERNS):
        nxt, stage = f"t{i + 1}", f"s{i + 1}"
        counts.append(f"n_{kind}s")
        sql += f""",
{stage} AS (
  SELECT *, len(regexp_extract_all({cur}, '{pat}')) AS n_{kind}s,
         regexp_replace({cur}, '{pat}', '{token}', 'g') AS {nxt}
  FROM {prev}
)"""
        cur, prev = nxt, stage
    cols = ", ".join(f"CAST({c} AS INT) AS {c}" for c in counts)
    return sql + f"\nSELECT doc_id, {cols}, md5({cur}) AS redacted_md5 FROM {prev}"


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gates; doc_id % 9 == 0 gets planted
    duplicate lines so dup_line_frac is live at driver scale."""
    plant = F.lit("\nrepeat line here\nrepeat line here\nrepeat line here")
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 9 == 0, F.concat(F.col("text"), plant))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return textops.repetition_signals(d)


def _sql_repetition_signals() -> str:
    bigrams = (
        "(CASE WHEN len(words) < 2 THEN CAST([] AS VARCHAR[]) "
        "ELSE list_transform(generate_series(1, len(words) - 1), "
        "i -> array_to_string(words[i:i+1], ' ')) END)"
    )
    return f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 9 = 0
              THEN text || chr(10) || 'repeat line here' || chr(10) || 'repeat line here' || chr(10) || 'repeat line here'
              ELSE text END AS text
  FROM documents
),
base AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS ln,
         {bigrams.replace('words', _SQL_WORDS)} AS bg
  FROM corpus
)
SELECT doc_id,
       CAST(len(ln) AS INT) AS n_lines,
       round(CASE WHEN len(ln) > 0 THEN 1.0 - len(list_distinct(ln)) / len(ln) ELSE 0.0 END, 6) AS dup_line_frac,
       CAST(len(bg) AS INT) AS n_bigrams,
       round(CASE WHEN len(bg) > 0
                  THEN list_max(list_transform(list_distinct(bg), b -> len(list_filter(bg, x -> x = b)))) / len(bg)
                  ELSE 0.0 END, 6) AS top_bigram_frac
FROM base
"""


# ----------------------------------------------------------------------
# line-level boilerplate detection + per-domain corpus stats (round 3)
# ----------------------------------------------------------------------
def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-document line dedup: planted chrome lines
    (newsletter banner on doc_id%7, cookie notice on doc_id%5) must
    surface with exact doc/occurrence counts; natural token-soup lines
    only qualify if they genuinely repeat across ≥3 documents."""
    k = F.col("doc_id")
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(k % 7 == 0, F.lit("\nsubscribe to our newsletter today"))
            .otherwise(F.lit("")),
            F.when(k % 5 == 0, F.lit("\naccept all cookies to continue"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    out = textops.boilerplate_lines(d, min_docs=3)
    return out.select(
        "line",
        F.col("n_docs").cast("int").alias("n_docs"),
        F.col("n_occurrences").cast("int").alias("n_occurrences"),
    )


SQL_BOILERPLATE_LINES = """
WITH corpus AS (
  SELECT doc_id, text
      || (CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'subscribe to our newsletter today' ELSE '' END)
      || (CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'accept all cookies to continue' ELSE '' END) AS text
  FROM documents
),
ln AS (
  SELECT doc_id, trim(l) AS line
  FROM corpus, unnest(string_split(text, chr(10))) AS t(l)
)
SELECT line, CAST(count(DISTINCT doc_id) AS INT) AS n_docs,
       CAST(count(*) AS INT) AS n_occurrences
FROM ln WHERE line <> '' GROUP BY line HAVING count(DISTINCT doc_id) >= 3
"""


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain stats (the CCNet/C4 quota grouping unit)
    over deterministically synthesized urls: hosts spread over 23 sites
    × {www., bare} × {.co.uk, .com}, so the public-suffix heuristic
    (3 labels for co.uk-style, 2 otherwise) is live in the oracle."""
    k = F.col("doc_id")
    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    url = F.concat(
        F.lit("https://"),
        F.when(k % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("site"), (k % 23).cast("string"),
        F.when(k % 2 == 0, F.lit(".co.uk")).otherwise(F.lit(".com")),
        F.lit("/p/"), k.cast("string"),
    )
    out = textops.domain_stats(d.select(url.alias("url"), "n_chars"))
    return out.select(
        "domain",
        F.col("n_hosts").cast("int").alias("n_hosts"),
        F.col("n_docs").cast("int").alias("n_docs"),
        F.col("total_chars").cast("long").alias("total_chars"),
    )


SQL_DOMAIN_STATS = """
WITH d AS (
  SELECT doc_id, n_chars,
         'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
         || 'site' || CAST(doc_id % 23 AS VARCHAR)
         || (CASE WHEN doc_id % 2 = 0 THEN '.co.uk' ELSE '.com' END)
         || '/p/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
h AS (
  SELECT regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host, n_chars FROM d
),
r AS (
  SELECT host, n_chars,
         CASE WHEN len(p) >= 3 AND p[-2] IN ('co','ac','gov','org','net')
              THEN array_to_string(p[-3:], '.')
              WHEN len(p) >= 2 THEN array_to_string(p[-2:], '.')
              ELSE host END AS domain
  FROM (SELECT host, n_chars, string_split(host, '.') AS p FROM h)
)
SELECT domain, CAST(count(DISTINCT host) AS INT) AS n_hosts,
       CAST(count(*) AS INT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM r GROUP BY domain
"""


def q_domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation quota: the top-5 documents per registered domain by
    (n_chars DESC, doc_id ASC — unique tiebreak makes the order total),
    via the SKEW-SAFE salted two-stage top-K (textops.top_k_per_key) —
    a mega-domain never serializes into one task. The result is
    independent of the salting, which the oracle proves: DuckDB
    computes the same rows with one plain QUALIFY window."""
    k = F.col("doc_id")
    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    url = F.concat(
        F.lit("https://"),
        F.when(k % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("site"), (k % 23).cast("string"),
        F.when(k % 2 == 0, F.lit(".co.uk")).otherwise(F.lit(".com")),
        F.lit("/p/"), k.cast("string"),
    )
    staged = d.select(
        "doc_id", "n_chars",
        textops.registered_domain_col(textops.host_col(url)).alias("domain"),
    )
    out = textops.top_k_per_key(
        staged, ["domain"], [F.col("n_chars").desc(), F.col("doc_id").asc()],
        k=5, tiebreak_col="doc_id",
    )
    return out.select("domain", "doc_id", "n_chars", F.col("rank").cast("int").alias("rank"))


SQL_DOMAIN_QUOTA_SAMPLE = """
WITH d AS (
  SELECT doc_id, n_chars,
         'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
         || 'site' || CAST(doc_id % 23 AS VARCHAR)
         || (CASE WHEN doc_id % 2 = 0 THEN '.co.uk' ELSE '.com' END)
         || '/p/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
r AS (
  SELECT doc_id, n_chars,
         CASE WHEN len(p) >= 3 AND p[-2] IN ('co','ac','gov','org','net')
              THEN array_to_string(p[-3:], '.')
              WHEN len(p) >= 2 THEN array_to_string(p[-2:], '.')
              ELSE host END AS domain
  FROM (SELECT doc_id, n_chars,
               regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
               string_split(regexp_extract(url, '^[a-z]+://([^/]+)', 1), '.') AS p
        FROM d)
)
SELECT domain, doc_id, n_chars,
       CAST(row_number() OVER (PARTITION BY domain ORDER BY n_chars DESC, doc_id) AS INT) AS rank
FROM r
QUALIFY rank <= 5
"""


# ----------------------------------------------------------------------
# real-PNG round trip: encode from text bytes → decode → metadata+sums
# ----------------------------------------------------------------------
def _oracle_bytes(doc_id: int, text) -> bytes:
    """Text → bytes for the codec round-trip mappers.

    The DuckDB oracles index CHARACTERS (``ascii(substr(text, i+1, 1))``)
    while these mappers index BYTES — identical only for ASCII,
    non-empty text.  Enforce that invariant loudly instead of letting
    parity silently depend on it (a non-ASCII or empty document must
    fail the run, not flip a hash)."""
    data = str(text).encode("utf-8")
    if not data:
        raise ValueError(f"doc {doc_id}: empty text unsupported by roundtrip oracle")
    if max(data) > 127:
        raise ValueError(f"doc {doc_id}: non-ASCII text breaks byte/char oracle parity")
    return data



def _png_roundtrip(doc_id: int, text) -> List[tuple]:
    from .pngcore import decode_png, encode_png, resize_nearest

    i = int(doc_id)
    data = _oracle_bytes(i, text)
    w, h, ch = 4 + i % 8, 3 + i % 5, 3
    px = bytes(data[j % len(data)] for j in range(w * h * ch))
    blob = encode_png(w, h, px, color_type=2, filter_type=i % 5)
    img = decode_png(blob)  # REAL decode; sums prove pixel identity
    thumb = resize_nearest(img, 2, 2)
    return [(i, img["width"], img["height"], img["channels"],
             int(sum(img["pixels"])), int(sum(thumb["pixels"])))]


def q_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PNG codec end to end at driver scale: text bytes → pixels →
    encode (filter_type = doc_id % 5, so ALL FIVE row filters are live)
    → decode → nearest-neighbor 2×2 thumbnail. The oracle never touches
    PNG — it derives the identical sums straight from the text bytes,
    so any codec defect breaks the hash."""
    return map_documents(
        _docs(spark, sf_dir), ["doc_id", "text"],
        "doc_id long, width int, height int, channels int, pixel_sum long, thumb_sum long",
        _png_roundtrip,
    )


def _sql_png_roundtrip() -> str:
    # thumbnail source pixels: 2x2 nearest neighbor over (w,h), 3 channels
    terms = []
    for y in range(2):
        for x in range(2):
            sy = f"least(h - 1, CAST(floor({y} * h / 2) AS INT))"
            sx = f"least(w - 1, CAST(floor({x} * w / 2) AS INT))"
            for c in range(3):
                idx = f"(({sy} * w + {sx}) * 3 + {c})"
                terms.append(f"ascii(substr(text, ({idx} % n) + 1, 1))")
    thumb = " + ".join(terms)
    return f"""
WITH d AS (
  SELECT doc_id, text, length(text) AS n,
         4 + doc_id % 8 AS w, 3 + doc_id % 5 AS h
  FROM documents
)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, 3 AS channels,
       CAST(list_sum(list_transform(generate_series(0, w * h * 3 - 1),
                     i -> ascii(substr(text, (i % n) + 1, 1)))) AS BIGINT) AS pixel_sum,
       CAST({thumb} AS BIGINT) AS thumb_sum
FROM d
"""


# ----------------------------------------------------------------------
# real-JPEG round trip: flat-block encode from text bytes → baseline
# huffman decode → metadata + pixel sums (round-3 addition)
# ----------------------------------------------------------------------
def _jpeg_roundtrip(doc_id: int, text) -> List[tuple]:
    import numpy as np

    from .jpegcore import decode_jpeg, encode_jpeg, encode_jpeg_progressive
    from .pngcore import resize_nearest

    i = int(doc_id)
    data = _oracle_bytes(i, text)
    wb, hb = 2 + i % 3, 1 + i % 2
    px = np.zeros((hb * 8, wb * 8), dtype=np.uint8)
    for j in range(wb * hb):
        by, bx = divmod(j, wb)
        px[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] = data[j % len(data)]
    if i % 2:  # PROGRESSIVE (SOF2, multi-scan successive approx)
        blob = encode_jpeg_progressive(wb * 8, hb * 8, px.tobytes(), channels=1)
    else:  # baseline with live RSTn resync
        blob = encode_jpeg(
            wb * 8, hb * 8, px.tobytes(), channels=1,
            restart_interval=1 + i % 3,
        )
    img = decode_jpeg(blob)  # REAL marker+huffman+IDCT decode
    img["color_type"] = 0
    thumb = resize_nearest(img, 2, 2)
    return [(i, img["width"], img["height"], img["channels"],
             int(np.frombuffer(img["pixels"], np.uint8).sum()),
             int(sum(thumb["pixels"])))]


def q_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real JPEG codec end to end at driver scale: text bytes → one
    gray value per 8×8 block → encode → full entropy decode + IDCT →
    2×2 nearest thumbnail. Even docs take the BASELINE path with a live
    RSTn restart interval (doc_id % 3 + 1); odd docs take the
    PROGRESSIVE (SOF2) path — DC first/refine + split-band AC first +
    AC refinement scans. With unit quant a constant block round-trips
    byte-identically in both modes (DC = 8·(v−128) is an exact integer,
    ACs quantize to 0), so ONE oracle derived straight from the text
    bytes covers both decoders — any marker/huffman/zigzag/scan-logic/
    IDCT defect in either path breaks the hash."""
    return map_documents(
        _docs(spark, sf_dir), ["doc_id", "text"],
        "doc_id long, width int, height int, channels int, pixel_sum long, thumb_sum long",
        _jpeg_roundtrip,
    )


# thumbnail: 2×2 nearest-neighbor sample lands on block rows {0, hb//2}
# × block cols {0, wb//2} (sy = (y*8*hb)//2 → block row (4*hb*y)//8)
SQL_JPEG_ROUNDTRIP = """
WITH d AS (
  SELECT doc_id, text, length(text) AS n,
         2 + doc_id % 3 AS wb, 1 + doc_id % 2 AS hb
  FROM documents
)
SELECT doc_id,
       CAST(wb * 8 AS INT) AS width,
       CAST(hb * 8 AS INT) AS height,
       1 AS channels,
       CAST(64 * list_sum(list_transform(generate_series(0, wb * hb - 1),
                    j -> ascii(substr(text, (j % n) + 1, 1)))) AS BIGINT) AS pixel_sum,
       CAST(ascii(substr(text, (0 % n) + 1, 1))
          + ascii(substr(text, ((wb // 2) % n) + 1, 1))
          + ascii(substr(text, (((hb // 2) * wb) % n) + 1, 1))
          + ascii(substr(text, (((hb // 2) * wb + wb // 2) % n) + 1, 1))
         AS BIGINT) AS thumb_sum
FROM d
"""


# ----------------------------------------------------------------------
# real lossless-JPEG (SOF3) round trip: ARBITRARY pixels from text
# bytes → predictor-chain huffman encode → exact decode (round 4).
# Unlike the flat-block baseline/progressive oracle, losslessness
# holds for any pixels, so the whole predictor/extend/mod-2^16 chain
# is oracle-live on unconstrained data.
# ----------------------------------------------------------------------
def _jpeg_lossless_roundtrip(doc_id: int, text) -> List[tuple]:
    from .jpegcore import decode_jpeg, encode_jpeg_lossless

    i = int(doc_id)
    data = _oracle_bytes(i, text)
    w, h = 3 + i % 6, 2 + i % 5
    ch = 1 if i % 2 else 3
    px = bytes(data[j % len(data)] for j in range(w * h * ch))
    blob = encode_jpeg_lossless(
        w, h, px, ch,
        predictor=1 + i % 7,  # every T.81 H.1 selector oracle-live
        restart_interval=i % 4,
    )
    img = decode_jpeg(blob)  # REAL SOF3 predictor-chain decode
    return [(i, img["width"], img["height"], img["channels"], int(sum(img["pixels"])))]


def q_jpeg_lossless_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real lossless-JPEG codec end to end at driver scale: text bytes
    → arbitrary gray/RGB pixels → SOF3 encode (predictor selector and
    restart interval vary per doc) → exact decode → pixel sum.  The
    oracle reduces every decoded byte straight to the text bytes."""
    return map_documents(
        _docs(spark, sf_dir), ["doc_id", "text"],
        "doc_id long, width int, height int, channels int, pixel_sum long",
        _jpeg_lossless_roundtrip,
    )


SQL_JPEG_LOSSLESS_ROUNDTRIP = """
WITH d AS (
  SELECT doc_id, text, length(text) AS n,
         3 + doc_id % 6 AS w, 2 + doc_id % 5 AS h,
         CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 3 END AS ch
  FROM documents
)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(ch AS INT) AS channels,
       CAST(list_sum(list_transform(generate_series(0, w * h * ch - 1),
                     j -> ascii(substr(text, (j % n) + 1, 1)))) AS BIGINT) AS pixel_sum
FROM d
"""


# ----------------------------------------------------------------------
# real-GIF round trip: palette indices from text bytes → LSB-first LZW
# encode → decode (interlace live on odd docs) → RGB pixel sum
# ----------------------------------------------------------------------
_GIF_PALETTE = bytes(b for k in range(8) for b in (k * 9, k * 17, k * 33))


def _gif_roundtrip(doc_id: int, text) -> List[tuple]:
    from .gifcore import decode_gif, encode_gif

    i = int(doc_id)
    data = _oracle_bytes(i, text)
    w, h = 3 + i % 5, 2 + i % 4
    idx = bytes(data[j % len(data)] % 8 for j in range(w * h))
    blob = encode_gif(w, h, idx, _GIF_PALETTE, interlace=bool(i % 2))
    img = decode_gif(blob)  # REAL LSB-first LZW + palette expand
    return [(i, img["width"], img["height"], img["n_frames"], int(sum(img["pixels"])))]


def q_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real GIF codec end to end at driver scale: text bytes → 3-bit
    palette indices → GIF89a encode (Adam-style INTERLACE on odd docs,
    so the row-reorder path is oracle-live) → decode → RGB pixel sum.
    Palette entry k is (9k, 17k, 33k) — all < 256 for k ≤ 7, so the
    oracle reduces each pixel to 59·(byte % 8) and never touches GIF."""
    return map_documents(
        _docs(spark, sf_dir), ["doc_id", "text"],
        "doc_id long, width int, height int, n_frames int, pixel_sum long",
        _gif_roundtrip,
    )


SQL_GIF_ROUNDTRIP = """
WITH d AS (
  SELECT doc_id, text, length(text) AS n,
         3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h
  FROM documents
)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       1 AS n_frames,
       CAST(59 * list_sum(list_transform(generate_series(0, w * h - 1),
                    j -> ascii(substr(text, (j % n) + 1, 1)) % 8)) AS BIGINT) AS pixel_sum
FROM d
"""


# ----------------------------------------------------------------------
# real-WebP (VP8L lossless) round trip: RGB from text bytes → encode
# with per-doc option mix → full huffman/transform/LZ77/cache decode →
# RGBA pixel sum + 2×2 nearest thumbnail sum (round-4 addition)
# ----------------------------------------------------------------------
def _webp_roundtrip(doc_id: int, text) -> List[tuple]:
    from .pngcore import resize_nearest
    from .webpcore import decode_webp, encode_webp_lossless

    i = int(doc_id)
    data = _oracle_bytes(i, text)
    w, h = 2 + i % 6, 1 + i % 4
    rgb = bytes(data[j % len(data)] for j in range(w * h * 3))
    blob = encode_webp_lossless(
        w, h, rgb, 3,
        subtract_green=bool(i % 2),
        cache_bits=3 if i % 3 == 0 else 0,
        use_lz77=i % 5 == 0,
    )
    img = decode_webp(blob)  # REAL VP8L prefix-code decode
    thumb = resize_nearest(img, 2, 2)
    return [(i, img["width"], img["height"], img["channels"],
             int(sum(img["pixels"])), int(sum(thumb["pixels"])))]


def q_webp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WebP-lossless codec end to end at driver scale: text bytes
    → RGB pixels → VP8L encode with a per-doc option mix (odd docs add
    the subtract-green transform, every 3rd a color cache, every 5th
    LZ77 run coding — so ALL encoder/decoder stages are oracle-live) →
    full decode → RGBA pixel sum + 2×2 nearest thumbnail.  The oracle
    reduces every decoded byte straight to the text bytes (alpha is a
    constant 255), so any prefix-code/transform/cache/LZ77 defect in
    either direction breaks the hash."""
    return map_documents(
        _docs(spark, sf_dir), ["doc_id", "text"],
        "doc_id long, width int, height int, channels int, pixel_sum long, thumb_sum long",
        _webp_roundtrip,
    )


def _sql_webp_roundtrip() -> str:
    # 2×2 nearest thumbnail samples sy=(y*h)//2 (clamped), sx=(x*w)//2:
    # RGBA sums = 3 text bytes per sampled pixel + alpha 255.
    terms = []
    for y in range(2):
        for x in range(2):
            sy = f"least(h - 1, CAST(floor({y} * h / 2) AS INT))"
            sx = f"least(w - 1, CAST(floor({x} * w / 2) AS INT))"
            for c in range(3):
                idx = f"(({sy} * w + {sx}) * 3 + {c})"
                terms.append(f"ascii(substr(text, ({idx} % n) + 1, 1))")
    thumb = " + ".join(terms)
    return f"""
WITH d AS (
  SELECT doc_id, text, length(text) AS n,
         2 + doc_id % 6 AS w, 1 + doc_id % 4 AS h
  FROM documents
)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       4 AS channels,
       CAST(list_sum(list_transform(generate_series(0, w * h * 3 - 1),
                     j -> ascii(substr(text, (j % n) + 1, 1))))
            + 255 * w * h AS BIGINT) AS pixel_sum,
       CAST({thumb} + 4 * 255 AS BIGINT) AS thumb_sum
FROM d
"""


# ----------------------------------------------------------------------
# real-WAV round trip: encode PCM from text bytes → decode → sums
# ----------------------------------------------------------------------
def _wav_roundtrip(doc_id: int, text) -> List[tuple]:
    import io
    import wave

    from .multimodal import decode_media, wav_samples

    i = int(doc_id)
    data = _oracle_bytes(i, text)
    n = 64 + i % 64
    samples = bytes(data[j % len(data)] for j in range(n))
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(1)  # 8-bit PCM: samples ARE the bytes
        wf.setframerate(8000 + (i % 4) * 4000)
        wf.writeframes(samples)
    blob = buf.getvalue()
    meta = decode_media(blob)  # REAL stdlib WAV decode
    return [(i, meta["sample_rate"], meta["channels"], meta["n_frames"],
             int(sum(wav_samples(blob))))]


def q_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio codec end to end: text bytes → 8-bit mono PCM WAV →
    stdlib decode → metadata + sample sum. The oracle derives the
    identical values straight from the text bytes."""
    return map_documents(
        _docs(spark, sf_dir), ["doc_id", "text"],
        "doc_id long, sample_rate int, channels int, n_frames int, sample_sum long",
        _wav_roundtrip,
    )


SQL_WAV_ROUNDTRIP = """
WITH d AS (
  SELECT doc_id, text, length(text) AS n, 64 + doc_id % 64 AS nf
  FROM documents
)
SELECT doc_id,
       CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
       1 AS channels,
       CAST(nf AS INT) AS n_frames,
       CAST(list_sum(list_transform(generate_series(0, nf - 1),
                     i -> ascii(substr(text, (i % n) + 1, 1)))) AS BIGINT) AS sample_sum
FROM d
"""


# ----------------------------------------------------------------------
# real-MP4 metadata round trip: ISO-BMFF box tree → walk → fields
# ----------------------------------------------------------------------
def _mp4_roundtrip(doc_id: int) -> List[tuple]:
    import struct as st

    from .multimodal import decode_media

    def box(tag: bytes, body: bytes) -> bytes:
        return st.pack(">I", len(body) + 8) + tag + body

    i = int(doc_id)
    w, h = 320 + (i % 16) * 16, 180 + (i % 9) * 30
    ts, dur = 1000 + (i % 30) * 1000, (i % 100) * 500
    if i % 2:  # version-1 mvhd (64-bit duration)
        mvhd = box(b"mvhd", b"\x01" + b"\x00" * 3 + b"\x00" * 16
                   + st.pack(">IQ", ts, dur) + b"\x00" * 80)
    else:
        mvhd = box(b"mvhd", b"\x00" * 4 + b"\x00" * 8
                   + st.pack(">II", ts, dur) + b"\x00" * 80)
    tkhd = box(b"tkhd", b"\x00" * 76 + st.pack(">II", w << 16, h << 16))
    blob = (box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
            + box(b"moov", mvhd + box(b"trak", tkhd)))
    meta = decode_media(blob)  # REAL box walk
    return [(i, meta["width"], meta["height"], meta["sample_rate"], meta["n_frames"])]


def q_mp4_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real ISO-BMFF metadata walk at driver scale: synthesize MP4 box
    trees (alternating mvhd version 0/1 per doc), decode via the real
    walker, and hash the extracted fields against the oracle's
    closed-form expectations."""
    return map_documents(
        _docs(spark, sf_dir), ["doc_id"],
        "doc_id long, width int, height int, timescale int, duration long",
        _mp4_roundtrip,
    )


SQL_MP4_ROUNDTRIP = """
SELECT doc_id,
       CAST(320 + (doc_id % 16) * 16 AS INT) AS width,
       CAST(180 + (doc_id % 9) * 30 AS INT) AS height,
       CAST(1000 + (doc_id % 30) * 1000 AS INT) AS timescale,
       CAST((doc_id % 100) * 500 AS BIGINT) AS duration
FROM documents
"""


def _avi_mjpeg(doc_id: int) -> List[tuple]:
    import numpy as np

    from pdf_parser_spark import jpegcore
    from pdf_parser_spark import multimodal as mm

    d = int(doc_id)
    n = 3 + d % 5
    frames = []
    for i in range(n):
        b0 = (d * 7 + i * 13) % 256
        b1 = (d * 7 + i * 13 + 31) % 256
        px = np.empty((8, 16), np.uint8)
        px[:, :8] = b0  # two flat 8x8 blocks — jpegcore's
        px[:, 8:] = b1  # quant=1 flat-block decode is EXACT
        frames.append(jpegcore.encode_jpeg(16, 8, px.tobytes(), channels=1))
    blob = mm.encode_avi_mjpeg(16, 8, frames)
    if d % 7 == 0:  # plant a non-MJPEG stream → typed error row
        blob = blob.replace(b"MJPG", b"XVID", 1)  # strh handler
    return [(d, blob)]


def _gif_anim(doc_id: int) -> List[tuple]:
    from pdf_parser_spark import gifcore

    d = int(doc_id)
    w, h, nf = 2 + d % 6, 2 + d % 4, 6 + d % 18
    pal = bytes(
        v for c in range(4)
        for v in (37 * c + 11, 53 * c + 7, 11 * c + 3)
    )
    frames, rects, disps = [], [], []
    for g in range(nf):
        x, j = g % w, g // w
        frames.append(bytes([(d + g) % 4]) * h)
        rects.append((x, 0, 1, h))
        if j == 0 and g > 0 and (d + g) % 2 == 1:
            disps.append(3)  # restore-previous (column untouched → bg)
        elif (d + j) % 2 == 1:
            disps.append(1)  # leave
        else:
            disps.append(2)  # restore rect to background
    blob = gifcore.encode_gif_animated(
        w, h, frames, pal, rects=rects, disposals=disps, background=3
    )
    if d % 11 == 0:  # plant a non-GIF blob → typed error row
        blob = b"X" + blob[1:]
    return [(d, blob)]


def q_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF composed-frame sampling (round-5): one GIF89a
    per doc where frame g paints a 1-wide column at x = g%w with a
    per-frame DISPOSAL method (leave / restore-background /
    restore-previous), so every sampled canvas's pixels depend on the
    compositor carrying disposal STATE across frames.  The oracle is
    CLOSED-FORM from the planted column/disposal design — it never
    routes through gifcore, so encoder/decoder bug-cancellation is
    broken (repo codec rule).  doc_id % 11 == 0 plants a corrupt
    container → typed error row."""
    from pdf_parser_spark import multimodal as mm

    media = map_documents(_docs(spark, sf_dir), ["doc_id"], "doc_id long, media binary", _gif_anim)
    return mm.gif_frame_stats(media, every=2)


def _sql_gif_frames() -> str:
    # resolve(x, i): the composed color of column x after frame i.
    # g* = last column-x frame ≤ i; its value survives iff it IS frame i
    # (own disposal not yet applied) or its disposal is 1 (leave);
    # restore-background and the (first-occurrence-only) restore-previous
    # both yield the background color.  R(c) = 37c+11; R+G+B(c) = 101c+21;
    # background = palette[3] → R 122, R+G+B 324.
    def resolve(x: str, form: str) -> str:
        g = f"({x} + w * ((i - {x}) // w))"
        j = f"((i - {x}) // w)"
        color = (
            f"(37 * ((doc_id + {g}) % 4) + 11)" if form == "r"
            else f"(101 * ((doc_id + {g}) % 4) + 21)"
        )
        bg = "122" if form == "r" else "324"
        return (
            f"(CASE WHEN {x} >= w THEN 0"  # column doesn't exist at this width
            f" WHEN {x} > i THEN {bg}"
            f" WHEN {g} = i THEN {color}"
            f" WHEN {j} = 0 AND {g} > 0 AND (doc_id + {g}) % 2 = 1 THEN {bg}"
            f" WHEN (doc_id + {j}) % 2 = 1 THEN {color}"
            f" ELSE {bg} END)"
        )

    total = " + ".join(resolve(str(x), "rgb") for x in range(7))  # w <= 7
    return f"""
SELECT doc_id, CAST(NULL AS INT) AS frame_idx, CAST(NULL AS INT) AS first_pixel,
       CAST(NULL AS BIGINT) AS pixel_sum, 'not a GIF container' AS error
FROM documents WHERE doc_id % 11 = 0
UNION ALL
SELECT doc_id, CAST(i AS INT) AS frame_idx,
       CAST({resolve('0', 'r')} AS INT) AS first_pixel,
       CAST(h * ({total}) AS BIGINT) AS pixel_sum,
       CAST(NULL AS VARCHAR) AS error
FROM (
  SELECT doc_id, 2 + doc_id % 6 AS w, 2 + doc_id % 4 AS h,
         unnest(generate_series(0, 5 + doc_id % 18, 2)) AS i
  FROM documents WHERE doc_id % 11 <> 0
)
"""


def q_avi_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MJPEG-in-AVI frame decode (round-4): synthesize one AVI per
    doc (every doc_id % 7 == 0 carries an XVID stream instead), walk the
    RIFF movi chunks, entropy-decode every 2nd frame via jpegcore, and
    emit first-pixel + full pixel-sum per sampled frame. The oracle is
    CLOSED-FORM from the planted block values — it never routes through
    the encoder, so encoder/decoder bug-cancellation is broken per the
    repo's codec rule."""
    from pdf_parser_spark import multimodal as mm

    media = map_documents(_docs(spark, sf_dir), ["doc_id"], "doc_id long, media binary", _avi_mjpeg)
    return mm.avi_frame_stats(media, every=2)


SQL_AVI_MJPEG_FRAMES = """
SELECT doc_id, CAST(NULL AS INT) AS frame_idx, CAST(NULL AS INT) AS first_pixel,
       CAST(NULL AS BIGINT) AS pixel_sum,
       'real codec not available in sandbox: AVI stream ''XVID'' (install ffmpeg)' AS error
FROM documents WHERE doc_id % 7 = 0
UNION ALL
SELECT doc_id, CAST(i AS INT) AS frame_idx,
       CAST((doc_id * 7 + i * 13) % 256 AS INT) AS first_pixel,
       CAST(64 * ((doc_id * 7 + i * 13) % 256)
          + 64 * ((doc_id * 7 + i * 13 + 31) % 256) AS BIGINT) AS pixel_sum,
       CAST(NULL AS VARCHAR) AS error
FROM (
  SELECT doc_id, unnest(generate_series(0, 2 + doc_id % 5, 2)) AS i
  FROM documents WHERE doc_id % 7 <> 0
)
"""


# ----------------------------------------------------------------------
# composite training-data pipeline: dedup → language → quality → tokens
# ----------------------------------------------------------------------
# corpus_select input: base docs + byte-identical copies (+100000, the
# exact-dedup plant) + perturbed near-twins (+200000, the FUZZY-dedup
# plant — survives the digest stage, must be killed by the cluster stage)
_SQL_SELECT_CORPUS = f"""{_SQL_EXACT_CORPUS}
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text || ' extra token here' AS text
  FROM documents WHERE doc_id % 10 = 0
"""


def q_corpus_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-selection pipeline a training-data run
    performs, composed from the individual operators: exact dedup
    (canonical = min doc_id per digest — the planted +100000 copies
    MUST disappear), then FUZZY dedup (MinHash-LSH candidate pairs →
    connected-component clusters → keep one canonical per cluster —
    the planted +200000 near-twins MUST disappear), then language gate
    (en), quality gate (≥ 0.75), minimum length (≥ 10 ws tokens),
    emitting the kept docs with their token budget. ONE digest shuffle
    + the bounded LSH/cluster stage, then pure join-free projections
    (append-mode operator chaining); every stage native Catalyst."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    near = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token here")).alias("text"),
    )
    corpus = _dup_corpus(spark, sf_dir, exact=True).unionByName(near)
    canon = (
        corpus.groupBy(F.md5("text").alias("_digest"))
        .agg(F.min_by(F.struct(F.col("doc_id"), F.col("text")), F.col("doc_id")).alias("_c"))
        .select(F.col("_c.doc_id").alias("doc_id"), F.col("_c.text").alias("text"))
    )
    # fuzzy stage (the round-3 gap, now first-class in the composite
    # pipeline): LSH candidate pairs → star-contraction components →
    # keep the min-id canonical of every cluster
    pairs = textops.lsh_band_pairs(canon, max_bucket_size=50).select("id_a", "id_b")
    keepers = (
        textops.dedup_clusters(canon, pairs)
        .filter(F.col("is_canonical"))
        .select("doc_id")
    )
    canon = canon.join(keepers, "doc_id")
    # append-mode chaining: the three per-doc operators are projections,
    # so after the dedup shuffles the whole pipeline is join-free
    # (round-2 first cut joined them on doc_id — three needless
    # shuffles at corpus scale; test_plans asserts no join survives)
    staged = textops.token_counts(
        textops.language_id(textops.quality_score(canon, append=True), append=True),
        append=True,
    )
    out = staged.filter(
        (F.col("quality_score") >= 0.75)
        & (F.col("lang_pred") == "en")
        & (F.col("ws_tokens") >= 10)
    )
    return out.select(
        "doc_id",
        "lang_pred",
        F.round("quality_score", 6).alias("quality_score"),
        "ws_tokens",
        "est_bpe_tokens",
    )


def _sql_corpus_select() -> str:
    # DuckDB 1.0 crashes ("Recursive CTE scan found without recursive
    # CTE node") when a CTE that transitively contains the recursive
    # walk is referenced more than once — so the per-doc gates run over
    # the (non-recursive, materialized) canon set and the cluster
    # labels are joined exactly ONCE in the final select.
    lq = _sql_language_id().replace("FROM documents", "FROM canon")
    qq = _sql_quality_score().replace("FROM documents", "FROM canon")
    tq = SQL_TOKEN_COUNTS.replace("FROM documents", "FROM canon")
    lshp = _sql_lsh_pairs_over("SELECT doc_id, text FROM canon")
    return f"""
WITH RECURSIVE
corpus AS MATERIALIZED ({_SQL_SELECT_CORPUS}),
canon AS MATERIALIZED (
  SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text
  FROM corpus GROUP BY md5(text)
),
edges0 AS MATERIALIZED ({lshp}),
ccorpus AS (SELECT doc_id FROM canon),
{_sql_cc_chain()},
lq AS ({lq}),
qq AS ({qq}),
tq AS ({tq})
SELECT c.doc_id, lq.lang_pred, round(qq.quality_score, 6) AS quality_score,
       tq.ws_tokens, tq.est_bpe_tokens
FROM canon c
JOIN labels l USING (doc_id)
JOIN lq USING (doc_id) JOIN qq USING (doc_id) JOIN tq USING (doc_id)
WHERE l.is_canonical
  AND qq.quality_score >= 0.75 AND lq.lang_pred = 'en' AND tq.ws_tokens >= 10
"""


# ----------------------------------------------------------------------
# registry
# ----------------------------------------------------------------------
def data_queries():
    return {
        "lineitem_agg": q_lineitem_agg,
        "nation_revenue_topk": q_nation_revenue_topk,
        "resume_anti_join": q_resume_anti_join,
        "window_cumsum": q_window_cumsum,
        "window_lag_delta": q_window_lag_delta,
        "year_grid": q_year_grid,
        "events_hour_window": q_events_hour_window,
        "draft_last_write_wins": q_draft_last_write_wins,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "simhash_pairs": q_simhash_pairs,
        "dedup_clusters": q_dedup_clusters,
        "language_id": q_language_id,
        "quality_score": q_quality_score,
        "token_counts": q_token_counts,
        "fingerprint": q_fingerprint,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_rp_lsh": q_ann_rp_lsh,
        "ann_ivf": q_ann_ivf,
        "embedding_near_dups": q_embedding_near_dups,
        "embedding_near_dups_lsh": q_embedding_near_dups_lsh,
        "event_sessions": q_event_sessions,
        "session_window_agg": q_session_window_agg,
        "corpus_select": q_corpus_select,
        "pii_redaction": q_pii_redaction,
        "repetition_signals": q_repetition_signals,
        "boilerplate_lines": q_boilerplate_lines,
        "domain_stats": q_domain_stats,
        "domain_quota_sample": q_domain_quota_sample,
        "json_props": q_json_props,
        "multimodal_metadata": q_multimodal_metadata,
        "multimodal_resize": q_multimodal_resize,
        "multimodal_frames": q_multimodal_frames,
        "multimodal_meta": q_multimodal_meta,
        "png_roundtrip": q_png_roundtrip,
        "jpeg_roundtrip": q_jpeg_roundtrip,
        "jpeg_lossless_roundtrip": q_jpeg_lossless_roundtrip,
        "gif_roundtrip": q_gif_roundtrip,
        "webp_roundtrip": q_webp_roundtrip,
        "wav_roundtrip": q_wav_roundtrip,
        "mp4_roundtrip": q_mp4_roundtrip,
        "avi_mjpeg_frames": q_avi_mjpeg_frames,
        "gif_frames": q_gif_frames,
    }


def data_oracle_sql():
    return {
        "lineitem_agg": SQL_LINEITEM_AGG,
        "nation_revenue_topk": SQL_NATION_REVENUE_TOPK,
        "resume_anti_join": SQL_RESUME_ANTI_JOIN,
        "window_cumsum": SQL_WINDOW_CUMSUM,
        "window_lag_delta": SQL_WINDOW_LAG_DELTA,
        "year_grid": SQL_YEAR_GRID,
        "events_hour_window": SQL_EVENTS_HOUR_WINDOW,
        "draft_last_write_wins": SQL_DRAFT_LAST_WRITE_WINS,
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_minhash_lsh": _sql_dedup_minhash_lsh(),
        "dedup_jaccard": SQL_DEDUP_JACCARD,
        "dedup_simhash": _sql_dedup_simhash(),
        "simhash_pairs": _sql_simhash_pairs(),
        "dedup_clusters": _sql_dedup_clusters(),
        "language_id": _sql_language_id(),
        "quality_score": _sql_quality_score(),
        "token_counts": SQL_TOKEN_COUNTS,
        "fingerprint": SQL_FINGERPRINT,
        "ann_cosine_topk": SQL_ANN_COSINE_TOPK,
        "ann_rp_lsh": _sql_ann_rp_lsh(),
        "ann_ivf": _sql_ann_ivf(),
        "embedding_near_dups_lsh": _sql_embedding_near_dups_lsh(),
        "embedding_near_dups": SQL_EMBEDDING_NEAR_DUPS,
        "event_sessions": SQL_EVENT_SESSIONS,
        "session_window_agg": SQL_SESSION_WINDOW_AGG,
        "corpus_select": _sql_corpus_select(),
        "pii_redaction": _sql_pii_redaction(),
        "repetition_signals": _sql_repetition_signals(),
        "boilerplate_lines": SQL_BOILERPLATE_LINES,
        "domain_stats": SQL_DOMAIN_STATS,
        "domain_quota_sample": SQL_DOMAIN_QUOTA_SAMPLE,
        "json_props": SQL_JSON_PROPS,
        "multimodal_metadata": SQL_MULTIMODAL_METADATA,
        "multimodal_resize": _sql_multimodal_resize(),
        "multimodal_frames": SQL_MULTIMODAL_FRAMES,
        "multimodal_meta": SQL_MULTIMODAL_META,
        "png_roundtrip": _sql_png_roundtrip(),
        "jpeg_roundtrip": SQL_JPEG_ROUNDTRIP,
        "jpeg_lossless_roundtrip": SQL_JPEG_LOSSLESS_ROUNDTRIP,
        "gif_roundtrip": SQL_GIF_ROUNDTRIP,
        "webp_roundtrip": _sql_webp_roundtrip(),
        "wav_roundtrip": SQL_WAV_ROUNDTRIP,
        "mp4_roundtrip": SQL_MP4_ROUNDTRIP,
        "avi_mjpeg_frames": SQL_AVI_MJPEG_FRAMES,
        "gif_frames": _sql_gif_frames(),
    }


# ----------------------------------------------------------------------
# embedding-cosine near-dup pairs + sessionization
# ----------------------------------------------------------------------
def _near_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vec_id % 3 == 0 base vectors PLUS planted near-duplicates: every
    vec_id % 12 == 0 vector gets a twin (id + 100000) with its first
    coordinate shifted by +0.25 (unit-norm corpus ⇒ twin cosine ≈ 0.97).

    The planting makes the exact/LSH near-dup oracle checks NON-trivial
    — without it the driver corpus has (almost) no pairs above 0.5 and
    the parity check proves nothing (round-1 verdict item 1)."""
    base = _emb(spark, sf_dir).filter(F.col("vec_id") % 3 == 0).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    twins = base.filter(F.col("vec_id") % 12 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.25)),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    return base.unionByName(twins)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs (the correctness baseline the LSH
    variant's candidates are verified against) over the planted corpus."""
    out = simsearch.cosine_near_dup_pairs(_near_dup_corpus(spark, sf_dir), threshold=0.5)
    return out.select("id_a", "id_b", F.round(F.col("cosine_sim"), 6).alias("cosine_sim"))


SQL_EMBEDDING_NEAR_DUPS = """
WITH c0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 3 = 0
),
c AS (
  SELECT vec_id, v FROM c0
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, [v[1] + CAST(0.25 AS DOUBLE)] || v[2:] AS v
  FROM c0 WHERE vec_id % 12 = 0
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_inner_product(a.v, b.v)
           / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) AS sim
  FROM c a JOIN c b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(sim, 6) AS cosine_sim FROM p WHERE sim >= 0.5
"""


def q_embedding_near_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-dup pairs over the same planted corpus.
    Approximate recall vs the exact baseline (asserted in
    tests/test_scale_ops.py) but DETERMINISTIC given the seeded
    hyperplanes — the DuckDB oracle replays the identical bucket
    collisions + exact verification from the same plane literals."""
    out = simsearch.lsh_near_dup_pairs(
        _near_dup_corpus(spark, sf_dir), dim=64, threshold=0.5, bits=8, tables=6
    )
    return out.select("id_a", "id_b", F.round(F.col("cosine_sim"), 6).alias("cosine_sim"))


def _sql_embedding_near_dups_lsh() -> str:
    bucket = _sql_rp_bucket_arms("v", 64, 8, 6)
    sim = _SQL_COS.format(a="ca.v", b="cb.v")
    return f"""
WITH c0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 3 = 0
),
c AS (
  SELECT vec_id, v FROM c0
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, [v[1] + CAST(0.25 AS DOUBLE)] || v[2:] AS v
  FROM c0 WHERE vec_id % 12 = 0
),
keyed AS (
  SELECT vec_id, v, t.tbl, {bucket} AS bucket
  FROM c CROSS JOIN (SELECT unnest(range(6)) AS tbl) t
),
pair AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM keyed a JOIN keyed b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
s AS (
  SELECT pair.id_a, pair.id_b, {sim} AS sim
  FROM pair JOIN c ca ON ca.vec_id = pair.id_a JOIN c cb ON cb.vec_id = pair.id_b
)
SELECT id_a, id_b, round(sim, 6) AS cosine_sim FROM s WHERE sim >= 0.5
"""


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over the events stream table."""
    from .streaming import sessionize

    e = _read(spark, sf_dir, "events")
    out = sessionize(e, gap_minutes=30)
    return out.select("event_id", "user_id", "session_idx", "session_id")


SQL_EVENT_SESSIONS = """
WITH g AS (
  SELECT event_id, user_id,
         CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS gap,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT event_id, user_id,
         sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM g
)
SELECT event_id, user_id, CAST(session_idx AS INT) AS session_idx,
       CAST(user_id AS VARCHAR) || '-' || CAST(session_idx AS VARCHAR) AS session_id
FROM s
"""


# ----------------------------------------------------------------------
# S8: semi-structured JSON parsing with explicit schema
# ----------------------------------------------------------------------
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's JSON ingestion (Pydantic-validated bodies, S8) as
    schema-declared from_json over the events props column; malformed
    documents become nulls, not errors (PERMISSIVE — the reference's
    'errors are rows' stance)."""
    e = _read(spark, sf_dir, "events")
    parsed = F.from_json("props", "k int")
    return e.select(
        "event_id",
        parsed["k"].alias("k"),
        F.get_json_object("props", "$.k").alias("k_str"),
        (parsed["k"] % 10 == 0).alias("k_round"),
    )


SQL_JSON_PROPS = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k,
       json_extract_string(props, '$.k') AS k_str,
       (CAST(json_extract_string(props, '$.k') AS INT) % 10 = 0) AS k_round
FROM events
"""


# ----------------------------------------------------------------------
# multimodal: typed metadata / resize / frame-sample over FAKE media
# ----------------------------------------------------------------------
def _fake_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → deterministic FAKE media blobs (kind by doc_id):
    images carry the text bytes as pixels, videos as frame data."""
    from . import multimodal as mm

    def media(doc_id, text):
        i = int(doc_id)
        payload = str(text).encode("utf-8")
        kind = i % 3
        if kind == 0:
            return [(i, mm.encode_fake(0, 8 + i % 8, 4 + i % 4, 1, payload))]
        if kind == 1:
            return [(i, mm.encode_fake(1, 8000 + (i % 4) * 4000, 1 + i % 2, 1 + i % 5, payload))]
        return [(i, mm.encode_fake(2, 8 + i % 8, 4 + i % 4, 5 + i % 20, payload))]

    return map_documents(_docs(spark, sf_dir), ["doc_id", "text"], "doc_id long, media binary", media)


def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import multimodal as mm

    return mm.media_metadata(_fake_media(spark, sf_dir)).select(
        "doc_id", "kind", "width", "height", "sample_rate", "channels", "n_frames", "n_bytes"
    )


SQL_MULTIMODAL_METADATA = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(CASE WHEN doc_id % 3 IN (0, 2) THEN 8 + doc_id % 8 ELSE 0 END AS INT) AS width,
       CAST(CASE WHEN doc_id % 3 IN (0, 2) THEN 4 + doc_id % 4 ELSE 0 END AS INT) AS height,
       CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 4) * 4000 ELSE 0 END AS INT) AS sample_rate,
       CAST(CASE WHEN doc_id % 3 = 1 THEN 1 + doc_id % 2 ELSE 0 END AS INT) AS channels,
       CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 1 + doc_id % 5 ELSE 5 + doc_id % 20 END AS INT) AS n_frames,
       CAST(length(text) AS INT) AS n_bytes
FROM documents
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4x3 nearest-neighbor thumbnails of the image rows; the checked
    value is the thumbnail pixel sum (bytes don't hash portably)."""
    from . import multimodal as mm

    out = mm.resized_thumbnails(_fake_media(spark, sf_dir), out_w=4, out_h=3)
    return out.select("doc_id", "pixel_sum", "error")


def _sql_multimodal_resize() -> str:
    # every doc yields a row: images a pixel sum, non-images a typed
    # error row (round-3 fix — failures are rows, never absences)
    terms = []
    for y in range(3):
        for x in range(4):
            sy = f"least(h - 1, CAST(floor({y} * h / 3) AS INT))"
            sx = f"least(w - 1, CAST(floor({x} * w / 4) AS INT))"
            terms.append(f"ascii(substr(text, (({sy} * w + {sx}) % n) + 1, 1))")
    return f"""
WITH img AS (
  SELECT doc_id, text,
         8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h, length(text) AS n
  FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN doc_id % 3 = 0 THEN {' + '.join(terms)} END AS BIGINT) AS pixel_sum,
       CASE WHEN doc_id % 3 = 0 THEN NULL ELSE 'not an image' END AS error
FROM img
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 10th frame of the video rows with its first 'pixel'."""
    from . import multimodal as mm

    return mm.sampled_frames(_fake_media(spark, sf_dir), every=10)


SQL_MULTIMODAL_FRAMES = """
WITH vid AS (
  SELECT doc_id, text,
         8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h,
         5 + doc_id % 20 AS nf, length(text) AS n
  FROM documents WHERE doc_id % 3 = 2
),
fr AS (
  SELECT doc_id, w, h, n, unnest(generate_series(0, nf - 1)) AS i FROM vid
)
SELECT doc_id, CAST(i AS INT) AS frame_idx,
       CAST(ascii(substr(text, ((i * w * h) % n) + 1, 1)) AS INT) AS first_pixel,
       CAST(NULL AS VARCHAR) AS error
FROM fr JOIN documents USING (doc_id)
WHERE i % 10 = 0
UNION ALL
SELECT doc_id, CAST(NULL AS INT) AS frame_idx, CAST(NULL AS INT) AS first_pixel,
       'not a video' AS error
FROM documents WHERE doc_id % 3 <> 2
"""
